"""S2: ``COPY INTO`` — idempotent file-level load from a landing
directory ("external stage") into a stage table.

Snowflake's COPY (the pipe body, reference customer-...sql:54-56) loads
each file exactly once via its load-history manifest. Batch analog: diff
the directory listing against a manifest of already-loaded files, read
only the new ones, append.

Every surface that reads stage files (``copy_into``, ``copy_statement``,
``stage_select`` and the verbatim-MERGE replays) reads them through
``read_stage_files``, the one owner of the ``SKIP_HEADER = 1`` rule.

Scale: the manifest keys on file *names* (object-store listing), never
file contents; the read is one ``spark.read.csv`` over just the new
files, so load cost tracks the delta, not the stage history.
"""

from __future__ import annotations

import functools
import json
import os
import tempfile
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .file_format import CSV_FORMAT, FileFormat


def list_stage(landing_dir: str) -> list[str]:
    """S6 ``list @landing`` (customer-...sql:204): stage file listing."""
    if not os.path.isdir(landing_dir):
        return []
    return sorted(
        f for f in os.listdir(landing_dir)
        if not f.startswith(".") and os.path.isfile(os.path.join(landing_dir, f))
    )


class CopyManifest:
    def __init__(self, path: str):
        self.path = path

    def loaded(self) -> set[str]:
        if not os.path.exists(self.path):
            return set()
        with open(self.path) as f:
            return set(json.load(f))

    def mark(self, files: set[str]) -> None:
        merged = sorted(self.loaded() | files)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path) or ".")
        with os.fdopen(fd, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, self.path)


def _starts_blank(path: str) -> bool:
    """True when the file's first physical line is empty. Peeking 2
    bytes per file is O(files) driver work, the same cost class as the
    directory listing itself."""
    with open(path, "rb") as f:
        head = f.read(2)
    return head[:1] in (b"\n", b"\r")


def read_stage_files(
    spark: SparkSession,
    paths: Sequence[str],
    schema: T.StructType,
    fmt=None,
    per_read: Callable[[DataFrame, bool], DataFrame] | None = None,
) -> DataFrame:
    """Read stage files as one frame, skipping the header the way
    Snowflake's ``SKIP_HEADER = 1`` does: exactly one physical line per
    file, whatever it holds.

    ``fmt`` is a named format (sources.file_format), the reference's CSV
    format by default. Spark's CSV reader drops blank lines BEFORE
    header handling, so under ``header`` "true" a file whose first line
    is blank (customer_delta_1.csv) would lose its first data row to the
    header skip. Those files are read with header=false: the reader
    drops the blank line itself, and one line is skipped either way.

    ``per_read(df, header_skipped)`` maps each read's frame before the
    union (``stage_select`` numbers rows per read with it)."""
    fmt = fmt or CSV_FORMAT
    per_read = per_read or (lambda df, _: df)
    skips = fmt.options.get("header") == "true"
    reads = [(fmt, list(paths), skips)]
    if fmt.fmt == "csv" and skips:
        blank = {p for p in paths if _starts_blank(p)}
        reads = [
            (fmt, [p for p in paths if p not in blank], True),
            (FileFormat("csv", dict(fmt.options, header="false")),
             [p for p in paths if p in blank], False),
        ]
    return functools.reduce(DataFrame.unionByName, [
        per_read(f.read(spark, ps, schema), skipped)
        for f, ps, skipped in reads
        if ps
    ])


def copy_into(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType,
    manifest: CopyManifest,
    file_format=None,
) -> tuple[DataFrame | None, set[str]]:
    """Read files not yet in the manifest; returns (df, new_files).
    Caller appends df to the stage table, then ``manifest.mark`` —
    write-then-mark, so a crash re-loads (dedupable) rather than
    silently skipping.

    ``file_format`` is a named format (sources.file_format); default is
    the reference's CSV format."""
    new_files = set(list_stage(landing_dir)) - manifest.loaded()
    if not new_files:
        return None, set()
    paths = [os.path.join(landing_dir, f) for f in sorted(new_files)]
    return read_stage_files(spark, paths, schema, file_format), new_files


def stage_select(
    spark: SparkSession, text: str, stage_root: str, schema: T.StructType
) -> DataFrame:
    """Snowflake's query-the-stage-directly idiom (r8): ``SELECT ...
    METADATA$FILENAME ... FROM @<stage>[/prefix] ...`` verbatim. The
    stage files are read as COPY INTO reads them (``read_stage_files``,
    the named format's skip_header=1 rule), each row stamped with its
    source file's basename as ``METADATA$FILENAME``, and the statement
    runs over the registered relation.

    ``METADATA$FILE_ROW_NUMBER`` (r12 — closes the r11 refusal) is
    the PHYSICAL record number inside the source file, header line
    included (so with the named format's skip_header=1 the first
    data row is 2 — Snowflake counts file records, not returned
    rows). Exactness rests on one engine invariant, ENFORCED rather
    than hoped for: a file yields in-order rows iff it occupies a
    single scan split, which Spark guarantees for files no larger
    than ``spark.sql.files.maxPartitionBytes`` (bin-packing may put
    several whole files in one partition — fine; it never splits a
    file below that size). Files above the threshold refuse loudly
    with the conf to raise. The row number itself is
    ``row_number() OVER (PARTITION BY input_file_name() ORDER BY
    monotonically_increasing_id())`` — the id's per-partition
    sequence IS the scan row order within the split; the window
    shuffles at most one file per group (the same per-file cost
    class as Snowflake's own metadata scan), and is added ONLY when
    the statement references the column.

    Scale: listing + blank-byte peek are O(files) driver metadata
    (copy_into's cost class); the read itself is one spark.read.csv
    over the matched files with the filename column coming from the
    scan (input_file_name — no join; the one optional shuffle is
    documented above)."""
    import re

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    want_rownum = bool(
        re.search(r"METADATA\$FILE_ROW_NUMBER", text, re.IGNORECASE)
    )
    m = re.search(r"FROM\s+@(\w+)(?:/(\w+))?", text, re.IGNORECASE)
    if m is None:
        raise ValueError("stage_select needs a FROM @<stage>[/prefix] clause")
    prefix = m.group(2) or ""
    files = [f for f in list_stage(stage_root) if f.startswith(prefix)]
    if not files:
        raise ValueError(f"no stage files match prefix {prefix!r}")
    paths = [os.path.join(stage_root, f) for f in sorted(files)]
    if want_rownum:
        raw = spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"
        ).strip().lower()
        mm = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", raw)
        if mm is None:
            raise ValueError(
                f"unparseable spark.sql.files.maxPartitionBytes: {raw!r}"
            )
        max_split = int(mm.group(1)) * (
            1024 ** {"": 0, "k": 1, "m": 2, "g": 3, "t": 4}[mm.group(2)]
        )
        too_big = [
            p for p in paths if os.path.getsize(p) > max_split
        ]
        if too_big:
            raise ValueError(
                "METADATA$FILE_ROW_NUMBER needs each stage file to fit a"
                " single scan split (in-file row order is only guaranteed"
                " unsplit); raise spark.sql.files.maxPartitionBytes above"
                f" the largest file ({too_big[0]} exceeds {max_split}B)"
            )
    fname = F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)

    def _with_meta(df: DataFrame, header_skipped: bool) -> DataFrame:
        # nondeterministic leaf expressions (input_file_name, the scan
        # sequence id) must be MATERIALIZED in a Project before a
        # window may key/order on them — and materializing pins their
        # evaluation to the scan, which is the semantics we want
        df = df.withColumn("METADATA$FILENAME", fname)
        if want_rownum:
            # key on the FULL path (same-basename files under two
            # prefixes must not interleave their numbering)
            df = df.withColumn(
                "__path", F.input_file_name()
            ).withColumn("__seq", F.monotonically_increasing_id())
            w = Window.partitionBy("__path").orderBy("__seq")
            df = df.withColumn(
                "METADATA$FILE_ROW_NUMBER",
                F.row_number().over(w)
                + F.lit(1 if header_skipped else 0),
            ).drop("__seq", "__path")
        return df

    df = read_stage_files(spark, paths, schema, per_read=_with_meta)
    view = f"__stage_{prefix or 'all'}"
    df.createOrReplaceTempView(view)
    clean = text[: m.start()] + f"FROM {view}" + text[m.end():]
    clean = re.sub(
        r"(?<!`)METADATA\$FILE_ROW_NUMBER", "`METADATA$FILE_ROW_NUMBER`",
        clean, flags=re.IGNORECASE,
    )
    clean = re.sub(
        r"(?<!`)METADATA\$FILENAME(?!_|\$|`)", "`METADATA$FILENAME`", clean,
        flags=re.IGNORECASE,
    )
    # Snowflake's POSITIONAL stage columns — `SELECT $1, $2::int FROM
    # @stage` (r9, the raw-COPY preview idiom): $n resolves to the
    # named format's n-th schema column, 1-based; out-of-range refuses.
    # Literal-aware scan so a '$2' inside a string constant survives.
    ncols = len(schema.fields)

    def _positional(segment: str) -> str:
        def sub(mo: "re.Match[str]") -> str:
            i = int(mo.group(1))
            if not (1 <= i <= ncols):
                raise ValueError(
                    f"positional column ${i} out of range (format has"
                    f" {ncols} columns)"
                )
            return f"`{schema.fields[i - 1].name}`"

        return re.sub(r"\$(\d+)", sub, segment)

    out: list[str] = []
    i = 0
    span = 0
    while i < len(clean):
        if clean[i] == "'":
            out.append(_positional(clean[span:i]))
            j = i + 1
            while j < len(clean) and clean[j] != "'":
                j += 1
            out.append(clean[i : j + 1])
            i = j + 1
            span = i
        else:
            i += 1
    out.append(_positional(clean[span:]))
    return spark.sql("".join(out))


def parse_copy_unload(text: str) -> dict:
    """Parse Snowflake's UNLOAD direction — ``COPY INTO @<stage>/<path>
    FROM (<query>) FILE_FORMAT = (...) [HEADER = TRUE|FALSE]
    [OVERWRITE = TRUE|FALSE]`` — into ``{stage_path, query,
    format_options, header, overwrite}``. The reverse of the pipe's
    COPY (S2): S2 loads stage files into tables, this exports a query
    back to stage files (the reference ecosystem's hand-off to
    downstream consumers). Only TYPE='CSV' formats are accepted (the
    engine's stage format); subqueries parse with balanced parens so
    nested SELECTs pass through verbatim."""
    import re

    from ..functions.sqldialect import _balanced_span, _strip_line_comments

    sql = _strip_line_comments(text).strip().rstrip(";")
    m = re.match(
        r"COPY\s+INTO\s+@(?P<stage>[\w./]+)\s+FROM\s*\(", sql, re.IGNORECASE
    )
    if m is None:
        raise ValueError(
            "unsupported COPY unload shape (need COPY INTO @<stage> FROM"
            " (<query>) FILE_FORMAT = (...))"
        )
    open_idx = sql.index("(", m.end() - 1)
    close = _balanced_span(sql, open_idx)
    query = sql[open_idx + 1 : close - 1].strip()
    tail = sql[close:]
    fm = re.search(r"FILE_FORMAT\s*=\s*\(([^)]*)\)", tail, re.IGNORECASE)
    if fm is None:
        raise ValueError("COPY unload requires FILE_FORMAT = (...)")
    fmt: dict[str, str] = {}
    for part in fm.group(1).split(","):
        part = part.strip()
        if not part:
            continue
        k, _, v = part.partition("=")
        fmt[k.strip().lower()] = v.strip().strip("'\"")
    if fmt.get("type", "").upper() != "CSV":
        raise ValueError("COPY unload supports TYPE = 'CSV' only")
    hm = re.search(r"HEADER\s*=\s*(TRUE|FALSE)", tail, re.IGNORECASE)
    om = re.search(r"OVERWRITE\s*=\s*(TRUE|FALSE)", tail, re.IGNORECASE)
    return {
        "stage_path": m.group("stage"),
        "query": query,
        "format_options": fmt,
        "header": (hm.group(1).upper() == "TRUE") if hm else False,
        "overwrite": (om.group(1).upper() == "TRUE") if om else False,
    }


def copy_unload(spark: SparkSession, text: str, stage_root: str) -> tuple[str, int]:
    """Execute a verbatim COPY-unload statement: run the inner query
    and write it as CSV part files under the named stage path (rooted
    at ``stage_root`` — the @stage binding, like the pipe DDL's). Each
    task writes its own file (Snowflake's data_N_N_N parallel unload
    analog) — fully distributed, no driver-side row data; returns
    (output_dir, n_data_files). ``list @stage`` sees the written
    files like any other stage content."""
    spec = parse_copy_unload(text)
    out_dir = os.path.join(stage_root, *spec["stage_path"].split("/")[1:])
    df = spark.sql(spec["query"])
    writer = df.write.option("header", str(spec["header"]).lower())
    writer.mode("overwrite" if spec["overwrite"] else "errorifexists").csv(out_dir)
    n = sum(
        1 for f in os.listdir(out_dir)
        if f.endswith(".csv") and not f.startswith((".", "_"))
    )
    return out_dir, n


def put_statement(text: str, stage_root: str) -> dict:
    """Execute a verbatim ``PUT file://<local> @<stage>[/prefix]
    [AUTO_COMPRESS = TRUE|FALSE] [OVERWRITE = TRUE|FALSE]`` — the first
    verb of every Snowflake loading runbook (upload a local file into a
    stage). The stage is the directory rooted at ``stage_root`` (the
    @stage binding copy_unload/pipes use); the target keeps the source
    basename. AUTO_COMPRESS defaults TRUE like Snowflake: the staged
    copy is gzipped with ``.gz`` appended (mtime pinned to 0 so staged
    bytes are deterministic) unless the name already ends compressed.
    OVERWRITE defaults FALSE: an existing target row comes back
    ``SKIPPED`` instead of clobbering (Snowflake's contract). Returns
    the status row — {source, target, source_size, target_size,
    status} — one PUT = one file (wildcards refuse loudly).
    O(file bytes) driver-local I/O, the same cost class as the stage
    listing; the data path stays distributed (Spark reads .csv.gz
    natively)."""
    import gzip
    import re

    from ..functions.sqldialect import _strip_line_comments

    sql = _strip_line_comments(text).strip().rstrip(";")
    m = re.match(
        r"PUT\s+file://(?P<src>\S+)\s+@(?P<stage>[\w./]+)(?P<tail>.*)$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m is None:
        raise ValueError("unsupported PUT shape (need PUT file://<path> @<stage>)")
    src = m.group("src")
    if any(ch in src for ch in "*?["):
        raise ValueError("PUT wildcards are not supported (one file per PUT)")
    tail = m.group("tail")
    ac = re.search(r"AUTO_COMPRESS\s*=\s*(TRUE|FALSE)", tail, re.IGNORECASE)
    ow = re.search(r"OVERWRITE\s*=\s*(TRUE|FALSE)", tail, re.IGNORECASE)
    auto_compress = (ac.group(1).upper() == "TRUE") if ac else True
    overwrite = (ow.group(1).upper() == "TRUE") if ow else False
    parts = m.group("stage").split("/")
    out_dir = os.path.join(stage_root, *parts[1:]) if len(parts) > 1 else stage_root
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.basename(src)
    compressed = auto_compress and not base.endswith((".gz", ".bz2", ".zst"))
    target = base + ".gz" if compressed else base
    dst = os.path.join(out_dir, target)
    src_size = os.path.getsize(src)
    if os.path.exists(dst) and not overwrite:
        return {
            "source": base,
            "target": target,
            "source_size": src_size,
            "target_size": os.path.getsize(dst),
            "status": "SKIPPED",
        }
    with open(src, "rb") as f:
        data = f.read()
    payload = gzip.compress(data, mtime=0) if compressed else data
    fd, tmp = tempfile.mkstemp(dir=out_dir)
    with os.fdopen(fd, "wb") as f:
        f.write(payload)
    os.replace(tmp, dst)
    return {
        "source": base,
        "target": target,
        "source_size": src_size,
        "target_size": len(payload),
        "status": "UPLOADED",
    }


def remove_statement(text: str, stage_root: str) -> list[str]:
    """Execute a verbatim ``REMOVE @<stage>[/prefix]`` — delete every
    stage file whose stage-relative path starts with the prefix and
    return their names sorted (Snowflake returns one row per removed
    file). Prefix semantics match Snowflake's: ``REMOVE @s/dir`` clears
    the subtree, ``REMOVE @s/file.csv`` one file. Listing + unlink only
    — never touches file contents."""
    import re

    from ..functions.sqldialect import _strip_line_comments

    sql = _strip_line_comments(text).strip().rstrip(";")
    m = re.match(r"REMOVE\s+@(?P<stage>[\w./]+)\s*$", sql, re.IGNORECASE)
    if m is None:
        raise ValueError("unsupported REMOVE shape (need REMOVE @<stage>[/prefix])")
    parts = m.group("stage").split("/")
    prefix = "/".join(parts[1:])
    removed = []
    for dirpath, _dirs, files in os.walk(stage_root):
        for f in files:
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, stage_root)
            if not prefix or rel.startswith(prefix):
                os.remove(full)
                removed.append(rel)
    return sorted(removed)


def get_statement(text: str, stage_root: str) -> list[dict]:
    """Execute a verbatim ``GET @<stage>[/prefix] file://<local_dir>``
    — download stage files matching the prefix into a local directory
    (PUT's inverse; the stage-lifecycle triad's last verb). One result
    row per file: {file, size, status} with status DOWNLOADED —
    Snowflake's shape. Existing local files are overwritten
    (Snowflake's GET default). Bytes are copied verbatim — a ``.gz``
    staged by PUT comes back compressed, exactly like Snowflake.

    DELIBERATE DIVERGENCE (r10 ADVICE): real Snowflake GET downloads
    files FLAT into the target directory, so two stage files with
    equal basenames in different subdirectories silently overwrite
    each other locally while both report DOWNLOADED. This engine
    instead preserves each file's path RELATIVE TO THE GET PREFIX
    under the destination (and the ``file`` result column carries
    that prefix-relative subpath) — anti-collision beats flat-parity
    here. ``GET @stage/a file://d`` lands ``a/x.csv`` at ``d/x.csv``
    exactly like Snowflake; only nested files gain subdirectories."""
    import re
    import shutil

    from ..functions.sqldialect import _strip_line_comments

    sql = _strip_line_comments(text).strip().rstrip(";")
    m = re.match(
        r"GET\s+@(?P<stage>[\w./]+)\s+file://(?P<dst>\S+)\s*$",
        sql,
        re.IGNORECASE,
    )
    if m is None:
        raise ValueError(
            "unsupported GET shape (need GET @<stage>[/prefix] file://<dir>)"
        )
    parts = m.group("stage").split("/")
    prefix = "/".join(parts[1:])
    dst_dir = m.group("dst")
    os.makedirs(dst_dir, exist_ok=True)
    out = []
    for dirpath, _dirs, files in os.walk(stage_root):
        for f in files:
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, stage_root)
            if not prefix or rel.startswith(prefix):
                # preserve the PREFIX-relative path under the local
                # dir (r9/r10 ADVICE: flattening let equal basenames
                # in different subdirs silently overwrite each other;
                # stripping the GET prefix stays closest to Snowflake,
                # which downloads the prefix's files directly into the
                # target). Snowflake prefixes are blob-style STRING
                # prefixes, so strip only what was matched.
                sub = rel[len(prefix):].lstrip("/") if prefix else rel
                if not sub:  # GET of one exact file: keep its basename
                    sub = os.path.basename(rel)
                target = os.path.join(dst_dir, sub)
                os.makedirs(os.path.dirname(target) or dst_dir,
                            exist_ok=True)
                shutil.copyfile(full, target)
                out.append(
                    {"file": sub, "size": os.path.getsize(full),
                     "status": "DOWNLOADED"}
                )
    return sorted(out, key=lambda r: r["file"])


def _list_stage_recursive(root: str) -> list[str]:
    """Stage listing as stage-relative POSIX paths, subdirectories
    included — the path space Snowflake's FILES / PATTERN / prefix
    clauses address (entries are stage-relative paths, never bare
    basenames). ``list_stage`` stays the flat S6 console listing."""
    out: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        for f in files:
            if f.startswith("."):
                continue
            out.append(f if rel == "." else f"{rel.replace(os.sep, '/')}/{f}")
    return sorted(out)


def _decode_sf_escapes(s: str) -> str:
    """Decode the escape forms Snowflake format options use in
    delimiter/quote values: ``\\t``/``\\n``/``\\r``/``\\\\`` and
    3-digit octal (``\\042`` = ``"``), plus ``0x``-hex (``0x27``)."""
    import re

    if re.fullmatch(r"0[xX][0-9a-fA-F]{2}", s):
        return chr(int(s[2:], 16))

    def sub(m: "re.Match[str]") -> str:
        body = m.group(1)
        if body.isdigit():
            return chr(int(body, 8))
        return {"t": "\t", "n": "\n", "r": "\r", "\\": "\\"}[body]

    return re.sub(r"\\([0-7]{3}|[tnr\\])", sub, s)


def _split_top_level(s: str) -> list[str]:
    """Split a FILE_FORMAT body on commas outside quotes/parens, so
    list-valued options (``NULL_IF = ('\\\\N', '')``) survive."""
    parts, depth, quote, start = [], 0, False, 0
    for i, ch in enumerate(s):
        if ch == "'":
            quote = not quote
        elif not quote and ch == "(":
            depth += 1
        elif not quote and ch == ")":
            depth -= 1
        elif not quote and depth == 0 and ch == ",":
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def translate_csv_format_options(fmt: dict[str, str]) -> dict[str, str]:
    """Translate Snowflake CSV FILE_FORMAT options into Spark CSV
    reader options — names differ systematically (SKIP_HEADER vs
    header, FIELD_DELIMITER vs sep, NULL_IF vs nullValue), so passing
    them through verbatim would make Spark silently ignore every one
    of them (the module's refuse-loudly rule forbids exactly that).
    Unrecognized keys and untranslatable values raise ValueError.

    ``fmt`` keys are lower-case Snowflake names; values are the raw
    (quote-stripped) statement text, lists kept as ``(...)``."""
    out: dict[str, str] = {}
    for k, v in fmt.items():
        if k == "type":
            continue  # validated by the caller (CSV only)
        if k == "skip_header":
            if v == "0":
                out["header"] = "false"
            elif v == "1":
                out["header"] = "true"
            else:
                raise ValueError(
                    f"SKIP_HEADER = {v}: Spark's header option skips"
                    " exactly one line; multi-line skips are not"
                    " supported"
                )
        elif k == "field_delimiter":
            out["sep"] = _decode_sf_escapes(v)
        elif k == "record_delimiter":
            out["lineSep"] = _decode_sf_escapes(v)
        elif k == "null_if":
            vals = [p.strip().strip("'") for p in
                    _split_top_level(v.strip().lstrip("(").rstrip(")"))]
            vals = vals or [""]
            if len(vals) > 1:
                raise ValueError(
                    f"NULL_IF with {len(vals)} entries: Spark's CSV"
                    " reader takes one nullValue; multi-token NULL_IF"
                    " needs a post-read replace"
                )
            out["nullValue"] = _decode_sf_escapes(vals[0])
        elif k == "field_optionally_enclosed_by":
            out["quote"] = ("" if v.upper() == "NONE"
                            else _decode_sf_escapes(v))
        elif k == "escape":
            if v.upper() != "NONE":
                out["escape"] = _decode_sf_escapes(v)
        elif k == "escape_unenclosed_field":
            if v.upper() != "NONE":
                raise ValueError(
                    "ESCAPE_UNENCLOSED_FIELD: Spark's CSV reader has no"
                    " unenclosed-field escape; only NONE is supported"
                )
        elif k == "empty_field_as_null":
            if v.lower() != "true":
                raise ValueError(
                    "EMPTY_FIELD_AS_NULL = FALSE: Spark's CSV reader"
                    " cannot distinguish empty from NULL per-field"
                )
        elif k == "error_on_column_count_mismatch":
            # no reader option: copy_statement decides which of the
            # records the reader flags it rejects
            if v.lower() not in ("true", "false"):
                raise ValueError(
                    f"ERROR_ON_COLUMN_COUNT_MISMATCH = {v!r}: boolean"
                    " expected"
                )
        elif k == "compression":
            if v.lower() not in ("auto", "none", "gzip", "bz2", "bzip2",
                                 "zstd", "deflate"):
                raise ValueError(
                    f"COMPRESSION = {v}: codec not readable by Spark's"
                    " CSV source"
                )
            # Spark picks the codec from the file extension — no option.
        elif k == "date_format":
            if v.upper() != "AUTO":
                out["dateFormat"] = v
        elif k == "timestamp_format":
            if v.upper() != "AUTO":
                out["timestampFormat"] = v
        elif k == "encoding":
            out["encoding"] = v
        elif k == "trim_space":
            if v.lower() == "true":
                out["ignoreLeadingWhiteSpace"] = "true"
                out["ignoreTrailingWhiteSpace"] = "true"
        else:
            raise ValueError(
                f"unsupported FILE_FORMAT option {k.upper()}: no Spark"
                " CSV reader equivalent (refusing rather than silently"
                " ignoring it)"
            )
    return out


# FILE_FORMAT body with one level of nested parens (NULL_IF lists) and
# quoted values that may themselves contain parens/commas.
_FILE_FORMAT_RX = r"FILE_FORMAT\s*=\s*\((?:[^()']|'[^']*'|\([^()]*\))*\)"


def parse_copy_statement(text: str) -> dict:
    """Parse the LOAD direction — Snowflake's single most common
    statement — ``COPY INTO <table> FROM @<stage>[/prefix]
    [FILES = ('a.csv', ...)] [PATTERN = '<regex>']
    [FILE_FORMAT = (TYPE = 'CSV' ...)]
    [VALIDATION_MODE = RETURN_ERRORS]
    [ON_ERROR = CONTINUE | ABORT_STATEMENT] [FORCE = TRUE|FALSE]``
    into a spec dict. Unsupported clauses refuse loudly (MATCH_BY
    COLUMN_NAME, transformations-in-FROM go through the stage_select /
    pipeline surfaces instead)."""
    import re

    from ..functions.sqldialect import _strip_line_comments

    sql = _strip_line_comments(text).strip().rstrip(";")
    m = re.match(
        r"COPY\s+INTO\s+(?P<table>[A-Za-z_][\w.]*)\s+FROM\s+"
        r"@(?P<stage>[\w./]+)\s*(?P<tail>.*)$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m is None:
        raise ValueError(
            "unsupported COPY shape (need COPY INTO <table> FROM"
            " @<stage>[/prefix] [options]; transformations in FROM go"
            " through stage_select)"
        )
    tail = m.group("tail")
    known = re.sub(
        r"FILES\s*=\s*\([^)]*\)|PATTERN\s*=\s*'[^']*'"
        r"|" + _FILE_FORMAT_RX +
        r"|VALIDATION_MODE\s*=\s*RETURN_ERRORS"
        r"|ON_ERROR\s*=\s*'?(?:CONTINUE|ABORT_STATEMENT)'?"
        r"|FORCE\s*=\s*(?:TRUE|FALSE)",
        "",
        tail,
        flags=re.IGNORECASE,
    ).strip()
    if known:
        raise ValueError(f"unsupported COPY options: {known[:80]!r}")
    files_m = re.search(r"FILES\s*=\s*\(([^)]*)\)", tail, re.IGNORECASE)
    files = None
    if files_m:
        files = [
            f.strip().strip("'\"") for f in files_m.group(1).split(",")
            if f.strip()
        ]
    pat_m = re.search(r"PATTERN\s*=\s*'([^']*)'", tail, re.IGNORECASE)
    fm = re.search(_FILE_FORMAT_RX, tail, re.IGNORECASE)
    fmt: dict[str, str] = {}
    if fm:
        body = fm.group(0)
        body = body[body.index("(") + 1:body.rindex(")")]
        for part in _split_top_level(body):
            k, _, v = part.partition("=")
            v = v.strip()
            # keep list values (NULL_IF = (...)) intact; strip quotes
            # from scalars only
            if not v.startswith("("):
                v = v.strip("'\"")
            fmt[k.strip().lower()] = v
        if fmt.get("type", "CSV").upper() != "CSV":
            raise ValueError("COPY load supports TYPE = 'CSV' only")
    on_error_m = re.search(
        r"ON_ERROR\s*=\s*'?(CONTINUE|ABORT_STATEMENT)'?", tail, re.IGNORECASE
    )
    stage = m.group("stage").split("/")
    return {
        "table": m.group("table"),
        "stage": stage[0],
        "prefix": "/".join(stage[1:]),
        "files": files,
        "pattern": pat_m.group(1) if pat_m else None,
        "format_options": fmt,
        "validate_only": bool(
            re.search(r"VALIDATION_MODE\s*=\s*RETURN_ERRORS", tail,
                      re.IGNORECASE)
        ),
        "on_error": (on_error_m.group(1).upper() if on_error_m
                     else "ABORT_STATEMENT"),
        "force": bool(re.search(r"FORCE\s*=\s*TRUE", tail, re.IGNORECASE)),
    }


def copy_statement(
    spark: SparkSession,
    text: str,
    tables: dict,
    stages: dict[str, str],
    loaded_files: set[str] | None = None,
) -> DataFrame:
    """Execute a verbatim ``COPY INTO <table> FROM @stage`` (the text
    form of S2 — the programmatic ``copy_into`` is the pipeline path).

    Returns Snowflake's per-file load-status relation: (file, status,
    rows_parsed, rows_loaded, errors_seen, first_error) — status
    LOADED / PARTIALLY_LOADED / LOAD_FAILED — and, like the other
    statement shims, swaps ``tables[target]`` to the post-load state
    (read-your-writes for later statements; the caller owns real
    writes). Semantics pinned to Snowflake:

    - idempotence: files in ``loaded_files`` are skipped (Snowflake's
      load history); ``FORCE = TRUE`` reloads them. Pass one set
      across calls to get re-run-safe loads; successful files are
      added to it.
    - ``VALIDATION_MODE = RETURN_ERRORS``: loads NOTHING; returns one
      row per rejected record (error, file, rejected_record) — the
      row/line/byte offsets Snowflake adds are not exposed because
      physical row order inside a Spark file split is not a stable
      contract (the METADATA$FILE_ROW_NUMBER refusal's reason).
    - ``ON_ERROR = ABORT_STATEMENT`` (the Snowflake default): any
      rejected record fails the whole statement and nothing is
      appended. ``CONTINUE``: good rows load, bad rows count into
      errors_seen and the file reports PARTIALLY_LOADED.
    - a record whose field count differs from the table's loads, as
      the pipe loads it (missing trailing columns NULL, extra fields
      dropped), under the named format's
      ``ERROR_ON_COLUMN_COUNT_MISMATCH = FALSE``; ``= TRUE`` rejects
      it. A field that fails its cast rejects the record either way.

    Scale: listing is O(files) driver metadata; the read is
    ``read_stage_files`` over the matched files (one spark.read.csv,
    two when some start with a blank line) with PERMISSIVE corrupt-
    record capture — per-file stats come from a groupBy on the scan's
    own input_file_name, no extra pass over the data; only flagged
    records are re-split.
    """
    from pyspark.sql import functions as F

    spec = parse_copy_statement(text)
    if spec["table"] not in tables:
        raise ValueError(f"COPY: unknown table {spec['table']!r}")
    root = stages[spec["stage"]]
    target = tables[spec["table"]]
    names = _list_stage_recursive(root)
    if spec["prefix"]:
        names = [n for n in names if n.startswith(spec["prefix"])]
    if spec["files"] is not None:
        # Snowflake FILES entries are stage/prefix-relative PATHS, not
        # basenames — 'sub/a.csv' under FROM @stage/prefix means
        # prefix/sub/a.csv, and a same-named file elsewhere must NOT
        # load.
        prefix = spec["prefix"]
        wanted = {
            f"{prefix.rstrip('/')}/{f}" if prefix else f
            for f in spec["files"]
        }
        names = [n for n in names if n in wanted]
    if spec["pattern"] is not None:
        import re as _re

        rx = _re.compile(spec["pattern"])
        names = [n for n in names if rx.fullmatch(n)]
    if loaded_files is not None and not spec["force"]:
        names = [n for n in names if n not in loaded_files]
    status_schema = (
        "file string, status string, rows_parsed long, rows_loaded long,"
        " errors_seen long, first_error string"
    )
    if not names:
        from ..operators.dml import empty_frame

        return empty_frame(spark, status_schema)
    fmt = FileFormat(
        "csv", dict(CSV_FORMAT.options,
                    **translate_csv_format_options(spec["format_options"]),
                    mode="PERMISSIVE",
                    columnNameOfCorruptRecord="__rejected"),
    )
    schema = T.StructType(
        list(target.schema.fields)
        + [T.StructField("__rejected", T.StringType())]
    )
    paths = [os.path.join(root, n) for n in names]
    raw = read_stage_files(spark, paths, schema, fmt).withColumn(
        "__file", F.input_file_name()
    )
    # input_file_name() is a URL-encoded URI (spaces -> %20): decode it
    # so the stats/idempotence keys match the stage-relative listing
    # (try_url_decode: a path with a literal stray '%' falls back to
    # the raw form instead of failing the scan), then strip everything
    # through the stage-root basename — regex-escaped, so a root like
    # "stage(v2)" cannot corrupt the pattern.
    import re as _re2

    raw = raw.withColumn(
        "__file",
        F.regexp_replace(
            F.coalesce(F.expr("try_url_decode(__file)"), F.col("__file")),
            r"^.*?" + _re2.escape(os.path.basename(root)) + "/", "",
        ),
    )
    # the reader flags a record whose field count differs from the
    # schema's, and one with a field that fails its cast; the typed
    # parse leaves the failed field NULL, so a flagged record had a
    # cast failure iff re-splitting it as strings finds a value there
    rejected = F.col("__rejected").isNotNull()
    # FALSE is the named format's value
    if spec["format_options"].get(
        "error_on_column_count_mismatch", "false"
    ).lower() == "false":
        typed = [f for f in target.schema.fields
                 if not isinstance(f.dataType, T.StringType)]
        tokens = F.from_csv(
            "__rejected",
            ", ".join(f"`{f.name}` string" for f in target.schema.fields),
            fmt.options,
        )
        rejected = rejected & functools.reduce(
            lambda a, b: a | b,
            [tokens[f.name].isNotNull() & F.col(f.name).isNull()
             for f in typed],
            F.lit(False),
        )
    # Spark refuses corrupt-record-ONLY projections on a raw CSV scan
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN); its documented remedy is to
    # cache the parsed batch first. A COPY statement's batch is the
    # right cache granularity — it is the statement's own input, never
    # the table — and both the stats aggregate and the appended rows
    # reuse the single cached parse instead of re-scanning the files.
    raw = raw.withColumn("__reject", rejected).cache()
    bad = raw.filter("__reject")
    if spec["validate_only"]:
        return bad.select(
            F.lit("parse error: record does not conform to the table"
                  " schema").alias("error"),
            F.col("__file").alias("file"),
            F.col("__rejected").alias("rejected_record"),
        )
    stats = (
        raw.groupBy(F.col("__file").alias("file"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("rows_parsed"),
            F.sum(F.when(F.col("__reject"), 0).otherwise(1))
            .cast("long").alias("rows_loaded"),
            F.sum(F.when(F.col("__reject"), 1).otherwise(0))
            .cast("long").alias("errors_seen"),
            F.min(F.when(F.col("__reject"), F.col("__rejected")))
            .alias("first_error_record"),
        )
        .select(
            "file",
            F.when(F.col("errors_seen") == 0, F.lit("LOADED"))
            .when(F.col("rows_loaded") > 0, F.lit("PARTIALLY_LOADED"))
            .otherwise(F.lit("LOAD_FAILED")).alias("status"),
            "rows_parsed", "rows_loaded", "errors_seen",
            F.when(
                F.col("errors_seen") > 0,
                F.concat(F.lit("rejected record: "),
                         F.col("first_error_record")),
            ).alias("first_error"),
        )
    )
    if spec["on_error"] == "ABORT_STATEMENT":
        n_bad = bad.limit(1).count()
        if n_bad:
            first = bad.select("__file", "__rejected").first()
            raise ValueError(
                f"COPY aborted (ON_ERROR = ABORT_STATEMENT): rejected"
                f" record in {first['__file']}: {first['__rejected']!r}"
            )
    good = raw.filter(~F.col("__reject")).select(
        *[f.name for f in target.schema.fields]
    )
    tables[spec["table"]] = target.unionByName(good)
    if loaded_files is not None:
        loaded_files.update(names)
    return stats.orderBy("file")
