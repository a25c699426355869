"""``perfbench/tracing.py`` wraps engine methods by name. A renamed or
deleted method must fail here, not only under ``perfbench/run.py
--trace 1``, where ``Tracer.install`` raises ``KeyError`` for it."""

from __future__ import annotations

from perfbench.tracing import WRAPPED


def test_every_traced_name_resolves():
    # Tracer.install reads the owner's own namespace, not an inherited one
    missing = [
        f"{owner.__name__}.{attr}"
        for owner, attr, _ in WRAPPED
        if attr not in vars(owner) or not callable(getattr(owner, attr))
    ]
    assert missing == []
