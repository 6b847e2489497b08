"""All-text CSV ingestion (reference semantics: pgfutter loads every
column as ``text``, header row names the columns — README.md:91-92).

Scale note: one ``spark.read.csv`` over a *list of paths* produces a
single distributed scan whose input splits parallelize across executors —
the Spark-native analog of the reference's one-subprocess-per-file fan-out
(main.py:491-542), but with no per-file process cost and free column
pruning/pushdown from Catalyst.
"""

from __future__ import annotations

import csv as _csv
import io
import logging
from collections import Counter
from functools import reduce
from itertools import chain, dropwhile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

log = logging.getLogger(__name__)

# BOM table, longest-prefix first (UTF-32 LE starts with the UTF-16 LE
# BOM bytes — order matters).
_BOMS: list[tuple[bytes, str]] = [
    (b"\xef\xbb\xbf", "UTF-8"),
    (b"\xff\xfe\x00\x00", "UTF-32LE"),
    (b"\x00\x00\xfe\xff", "UTF-32BE"),
    (b"\xff\xfe", "UTF-16LE"),
    (b"\xfe\xff", "UTF-16BE"),
]


def _head_bytes(
    path: str | Path, sample_size: int, spark: SparkSession | None = None
) -> bytes | None:
    """First ``sample_size`` bytes of a file, driver-side: local open,
    falling back (r11) to the JVM's Hadoop FileSystem for paths local
    IO cannot open (s3://, hdfs://, file:/ URIs) when a session is
    provided — so the head-sampling guards keep working on cluster
    storage. Returns None only when unreadable both ways."""
    try:
        with open(path, "rb") as fh:
            return fh.read(sample_size)
    except OSError:
        pass
    if spark is None:
        return None
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(str(path))
        fs = jpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        stream = fs.open(jpath)
        try:
            # one bulk JVM-side read (a per-byte py4j loop would be
            # ~sample_size gateway round-trips); BoundedInputStream
            # caps the read and handles shorter files, and py4j
            # returns the byte[] as Python bytes
            bounded = jvm.org.apache.commons.io.input.BoundedInputStream(
                stream, sample_size
            )
            return bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(bounded)
            )
        finally:
            stream.close()
    except Exception:  # noqa: BLE001 — unreadable means unverified
        return None


def _encoding_of(head: bytes | None, sample_size: int = 1 << 16) -> str:
    """Charset of a CSV file from its head sample (reference: chardet
    over the first bytes, utils.py:12-17; chardet isn't available here,
    so this is the deterministic stdlib equivalent):

    1. BOM → the BOM's encoding (UTF-8/16/32, either endianness).
    2. NUL-byte periodicity → BOM-less UTF-16: mostly-Latin text in
       UTF-16 has ~every other byte 0x00, concentrated at odd offsets
       for LE and even offsets for BE. This must run BEFORE the UTF-8
       probe — UTF-16LE ASCII (``61 00 62 00``) strict-decodes as
       valid UTF-8 with embedded NULs, so the probe alone misses it.
    3. sample strict-decodes as UTF-8 → ``UTF-8`` (ASCII is a subset;
       a random byte sequence passes this probe with vanishing
       probability, which is the same bet chardet makes).
    4. otherwise → ``ISO-8859-1`` (decodes any byte sequence; the
       standard fallback for legacy single-byte dumps).

    A pure function of an already-fetched head (``_probe_heads`` and
    ``_head_cache`` fetch it, once per path). An unreadable head
    (None) gives ``UTF-8``, Spark's own default."""
    if head is None:
        return "UTF-8"
    for bom, enc in _BOMS:
        if head.startswith(bom):
            return enc
    if b"\x00" in head:
        even, odd = head[0::2], head[1::2]
        even_z = even.count(0) / max(len(even), 1)
        odd_z = odd.count(0) / max(len(odd), 1)
        if odd_z > 0.3 and even_z < 0.05:
            return "UTF-16LE"
        if even_z > 0.3 and odd_z < 0.05:
            return "UTF-16BE"
    try:
        head.decode("utf-8")
        return "UTF-8"
    except UnicodeDecodeError as e:
        # a multi-byte sequence truncated by the sample boundary is not
        # evidence against UTF-8 — retry without the tail (only when the
        # sample really was cut short; a decode error near the end of a
        # COMPLETE file is a genuine non-UTF-8 byte)
        if len(head) == sample_size and e.start >= len(head) - 4:
            try:
                head[: e.start].decode("utf-8")
                return "UTF-8"
            except UnicodeDecodeError:
                pass
        return "ISO-8859-1"


def _quoted_newline_in_head(head: bytes, sample_size: int = 1 << 16) -> bool:
    """Whether a newline occurs INSIDE a quoted field of the head
    sample (an RFC-4180 quote state machine over the decoded head).
    It guards the ``multiline=False`` splittability lever: the caller
    asserts the dump is newline-clean, and this catches a mis-asserted
    dump loudly instead of letting Hadoop line splitting silently shear
    rows. Best-effort by construction: evidence past the sample window
    is not seen, but a positive is always real evidence."""
    text = head.decode(_encoding_of(head, sample_size), errors="replace")
    in_q = False
    for ch in text:
        if ch == '"':
            # the RFC-4180 "" escape toggles out and straight back in;
            # no newline can sit between two adjacent quote chars
            in_q = not in_q
        elif ch in "\r\n" and in_q:
            return True
    return False


def _probe_heads(
    spark: SparkSession,
    paths: list[str | Path],
    probe,
    head_of=None,
) -> dict[str, object]:
    """``{str(path): probe(head)}`` for every path, None where the head
    cannot be read either way. Heads come from ``head_of`` (default: a
    fresh ``_head_cache``, which has the Hadoop-FS fallback), so a
    caller that already fetched a path's head pays no second read."""
    head_of = head_of or _head_cache(spark, None)
    out: dict[str, object] = {}
    for p in paths:
        head = head_of(p)
        out[str(p)] = None if head is None else probe(head)
    return out


def _head_cache(
    spark: SparkSession, heads: dict[str, bytes | None] | None
):
    """Per-path memoized head fetch: every guard that needs a file's
    head sample (quoted-newline probe, encoding sniff, header check)
    reads it through this, so each path is opened ONCE per ingest —
    on cluster storage each open is a Hadoop FileSystem round-trip,
    and before r12 the three guards paid up to three each."""
    cache = heads if heads is not None else {}

    def get(p: str | Path) -> bytes | None:
        k = str(p)
        if k not in cache:
            cache[k] = _head_bytes(p, 1 << 16, spark)
        return cache[k]

    return get


def csv_dialect(reader, multiline: bool = True, encoding: str | None = None):
    """Apply the package's one CSV dialect to a batch ``DataFrameReader``
    or a streaming ``DataStreamReader``: RFC-4180 doubled-quote escapes,
    quoted embedded newlines unless ``multiline=False``, and ``encoding``
    when it is not UTF-8 (Spark's default). The loader, the row counter
    and the streaming ingest all read through it, so they parse every
    record the same way."""
    reader = reader.option("multiLine", "true" if multiline else "false")
    reader = reader.option("escape", '"')
    if encoding and encoding != "UTF-8":
        reader = reader.option("encoding", encoding)
    return reader


def read_csv_all_text(
    spark: SparkSession,
    paths: list[str | Path] | str | Path,
    multiline: bool = True,
    _heads: dict[str, bytes | None] | None = None,
    _schema: StructType | None = None,
) -> DataFrame:
    """Read CSV file(s) with the header as column names, all columns
    StringType (the reference's untyped ingest).

    The columns come from the driver's parse of the first path's
    header (:func:`checked_schema`, unless the caller already made that
    check and passes its ``_schema``), named by Spark's own rule for
    CSV headers (:func:`_view_schema`). Spark then reads with that
    explicit schema and ``header=true``, so it only skips each file's
    header record: building a view runs no Spark job, and the view's
    columns are the ones the combine check compared. A zero-byte file
    gives a view with no columns. Each file is decoded with its own
    sniffed charset (:func:`_scan`)."""
    if isinstance(paths, (str, Path)):
        paths = [paths]
    heads = {} if _heads is None else _heads
    if _schema is None:
        _schema = checked_schema(spark, paths, multiline, heads)
    return _scan(spark, paths, _schema, multiline, _head_cache(spark, heads))


def read_csv_routed(
    spark: SparkSession,
    routes: dict[str, tuple[str, list[str]]],
    multiline: bool = True,
    _heads: dict[str, bytes | None] | None = None,
) -> DataFrame:
    """One all-text frame over the files of ``{file path: (table,
    columns)}`` routes (``copy_sink.copy_write``'s mapping), whose
    headers may differ: one scan per encoding under all-string columns
    ``_c0, _c1, …`` as wide as the widest route. The writer takes a
    file's first ``len(columns)`` fields, so extra fields drop and
    missing ones are NULL, as in the file's own scan (at a parse cost,
    ``SCALE.md``)."""
    width = max(len(cols) for _, cols in routes.values())
    wide = _view_schema(spark, [""] * width)  # _c0, _c1, …
    return _scan(
        spark, list(routes), wide, multiline, _head_cache(spark, _heads)
    )


def checked_schema(
    spark: SparkSession,
    paths: list[str | Path],
    multiline: bool = True,
    _heads: dict[str, bytes | None] | None = None,
) -> StructType:
    """The view schema of ``paths`` from the first one's header, read
    from the cached head sample with no Spark job. Raises a
    ``ValueError`` naming the path when that header is unreadable
    every way.

    ``multiline=False`` is the splittability lever for newline-clean
    dumps: multiLine=True pins each file to ONE input split, while
    Hadoop line splitting parallelizes within files (measured 3.7x on
    a single 435 MB file). It is self-guarding: a quoted embedded
    newline in any path's head sample raises a ``ValueError``, so a
    mis-asserted dump fails instead of silently shearing rows (an
    unreadable head only warns)."""
    head_of = _head_cache(spark, _heads)
    header = _header(paths[0], spark, head_of(paths[0]), multiline)
    if header is None:
        raise ValueError(f"header of {paths[0]} unreadable")
    quoted = {} if multiline else _probe_heads(
        spark, paths, _quoted_newline_in_head, head_of
    )
    for p, q in quoted.items():
        if q is None:
            log.warning(
                "quoted-newline probe skipped for %s: head unreadable; "
                "multiline=False row shearing cannot be ruled out for "
                "this file",
                p,
            )
        elif q:
            raise ValueError(
                f"multiline=False asserted but {p} contains a "
                "quoted embedded newline in its sample window; "
                "line splitting would shear rows — drop "
                "csv_multiline=False (--csv-no-multiline) for "
                "this corpus"
            )
    return _view_schema(spark, header)


def _scan(
    spark: SparkSession, paths, schema: StructType, multiline: bool, head_of
) -> DataFrame:
    """``paths`` read under ``schema`` with ``header=true``. The charset
    is sniffed per file from its head (the reference ran chardet per
    file, utils.py:12-17): one scan per encoding, unioned positionally
    in the order each encoding first appears."""
    by_enc: dict[str, list[str]] = {}
    for p in paths:
        by_enc.setdefault(_encoding_of(head_of(p)), []).append(str(p))
    scans = [
        csv_dialect(
            spark.read.schema(schema).option("header", "true"), multiline, enc
        ).csv(group)
        for enc, group in by_enc.items()
    ]
    return reduce(DataFrame.union, scans)


def _view_schema(spark: SparkSession, header: list[str]) -> StructType:
    """All-string schema for a parsed header, named by Spark's rule for
    CSV headers (``CSVUtils.makeSafeHeader``), so a view's columns are
    the ones Spark's header inference would give: an empty name becomes
    ``_c{i}``, and a name that occurs more than once becomes
    ``{name}{i}`` — compared case-insensitively unless
    ``spark.sql.caseSensitive`` is set (``a,A,a,b`` → ``a0,A1,a2,b``)."""
    exact = spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true"
    key = (lambda n: n) if exact else str.lower
    seen = Counter(key(n) for n in header)
    return StructType(
        [
            StructField(
                f"_c{i}" if not n else f"{n}{i}" if seen[key(n)] > 1 else n,
                StringType(),
            )
            for i, n in enumerate(header)
        ]
    )


def read_csv_group(
    spark: SparkSession,
    files: list[Path],
    multiline: bool = True,
    _heads: dict[str, bytes | None] | None = None,
) -> DataFrame:
    """Read a prefix group of CSVs as ONE scan (the combine operator O1;
    one scan per encoding when the group mixes encodings).

    The reference combines per-file Postgres tables with ``CREATE
    TABLE ... (LIKE first)`` + ``UNION ALL`` (main.py:215-248); one
    multi-path scan replaces the N union nodes (SURVEY §4.2).

    Every file's header must equal the first file's, before the scan
    and at any group size. This is STRICTER than the reference, whose
    positional UNION ALL combines permuted same-count headers
    misassigned, and Spark's positional scan null-pads or truncates a
    count drift silently (measured), so exact header equality is the
    only drift guard. Heads come from one bounded driver-side read per
    file (the JVM's Hadoop FileSystem for s3://, hdfs://), shared with
    the encoding sniff and the quoted-newline probe; no Spark jobs. A
    member whose header cannot be read fails the group with a
    ``ValueError`` naming it. The headers compared are the ones every
    view takes its columns from, so equal headers mean equal columns.
    """
    heads = {} if _heads is None else _heads
    head_of = _head_cache(spark, heads)
    if len(files) > 1:
        first: list[str] | None = None
        for f in files:
            cols = _header(f, spark, head_of(f), multiline)
            if cols is None:
                raise ValueError(
                    f"combine header check impossible: header of {f} "
                    "unreadable, so it cannot be checked against the "
                    "LIKE-first header and a drifted file would combine "
                    "positionally without error (reference "
                    "LIKE-first-file semantics, main.py:229)"
                )
            if first is None:
                first = cols
            elif cols != first:
                raise ValueError(
                    f"schema mismatch combining {f}: {cols} != "
                    f"{first} (reference LIKE-first-file "
                    "semantics, main.py:247)"
                )
    return read_csv_all_text(spark, files, multiline=multiline, _heads=heads)


# Sentinel distinguishing "head not pre-fetched" from "head fetched
# and unreadable" (None) in ``_header``'s ``head`` parameter.
_UNFETCHED = object()


def _empty_line(line: str) -> bool:
    return not line.rstrip("\r\n")


def _space_line(line: str) -> bool:
    return not line.rstrip("\r\n").strip(" ")


def _record_ends(text: str) -> bool:
    """Whether the first record of ``text`` ends at an UNQUOTED line
    break inside it. A quoted field whose closing quote lies past the
    end holds newlines yet is cut short, and csv.reader would return
    the partial record without raising."""
    in_q = False
    for ch in text:
        if ch == '"':
            in_q = not in_q
        elif ch in "\r\n" and not in_q:
            return True
    return False


def _header(
    path: str | Path,
    spark: SparkSession | None = None,
    head: bytes | None | object = _UNFETCHED,
    multiline: bool = True,
) -> list[str] | None:
    """The raw header cells of a CSV file: its first non-blank record,
    parsed with csv.reader on the driver. Every view's columns
    (:func:`read_csv_all_text`), the combine check and the streaming
    schema come from it, so they cannot disagree.

    Blank leading records are skipped as Spark's header inference
    skips them: with ``multiline`` an empty line (univocity's rule),
    without it a line of spaces only (line mode trims spaces), so
    ``\\r\\nid,name`` has the header ``id,name`` either way. A file
    holding no record (zero bytes, or blank lines only) gives ``[]``.

    The header is parsed from the bounded ~64KB head sample, decoded
    with the encoding sniffed from the same bytes, with no IO at all
    when the caller pre-fetched ``head``. Paths local IO cannot open
    (s3://, hdfs://, file:/ URIs) read through the JVM's Hadoop
    FileSystem inside ``_head_bytes`` when a session is provided, so
    the LIKE-first check holds on cluster storage. The sample parse is
    trusted only when the first record provably completes inside it
    (the sample holds the whole file, or an unquoted line break ends
    the record); otherwise a LOCAL path is read on to the end of that
    record (a legitimate >64KB header). Returns None only when the
    header is unreadable every way (a remote header longer than the
    sample, or a path that cannot be opened): callers must treat that
    as unverified."""
    if head is _UNFETCHED:
        head = _head_bytes(path, 1 << 16, spark)
    if head is None:
        return None
    enc = _encoding_of(head, 1 << 16)
    blank = _empty_line if multiline else _space_line
    # a sheared multi-byte sequence at the sample's end only touches
    # text after the header, so replacing it is safe here
    text = head.decode(enc, errors="replace").lstrip("\ufeff")
    rest = "".join(dropwhile(blank, io.StringIO(text, newline="")))
    if len(head) < 1 << 16 or _record_ends(rest):
        return next(_csv.reader(io.StringIO(rest, newline="")), [])
    try:
        with open(path, newline="", encoding=enc, errors="replace") as fh:
            lines = chain([next(fh, "").lstrip("\ufeff")], fh)
            return next(_csv.reader(dropwhile(blank, lines)), [])
    except (OSError, _csv.Error):
        return None
