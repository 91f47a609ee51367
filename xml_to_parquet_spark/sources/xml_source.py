"""XML → nested-Parquet conversion, Spark-first.

Reproduces the observable semantics of the reference pipeline
(convert_xml_to_parquet.py:159-539): each XML document becomes one row with
a single root-named struct column shaped per SURVEY.md §1.4 (attributes as
``elem@attr`` first, xs:decimal → double, dates → "yyyy-MM-dd HH:mm:ss.SSS"
strings, include/exclude path pruning pushed into the parse), optionally a
``file_info`` sibling struct (convert_xml_to_parquet.py:228-229), written to
Parquet with the reference's output naming (:489-508).

Scale design: one ``spark.read.format("xml")`` job covers millions of files
(each file is a split; Spark's XML reader is StAX-streaming per record, the
same O(document) memory as the reference's iterparse). Schema compiling
happens once on the driver. The compat mode (one .parquet file per input or
archive member, like the reference) is one ``partitionBy("_member")`` write
job per input whose partition files are renamed to the reference names; the
scale path is ``convert_to_dataset`` — a single parquet dataset keyed by
source file.
"""

from __future__ import annotations

import glob
import logging
import os
import shutil
import tempfile
from typing import Iterable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_to_parquet_spark.sources import containers as _containers
from xml_to_parquet_spark.sources.xsd import (
    DATE_FMT,
    load_xsd_struct,
    read_schema,
    rebuild_expr,
)

_logger = logging.getLogger(__name__)

_XML_OPTIONS = {
    # match reference semantics: empty element / empty text → null
    # (convert_xml_to_parquet.py:102-104)
    "nullValue": "",
    "attributePrefix": "_",
    "mode": "PERMISSIVE",
}


_NS_DECL_RE = r'''\s+xmlns(:[A-Za-z0-9_.-]+)?\s*=\s*("[^"]*"|'[^']*')'''
_NS_PREFIX_RE = r"(</?)[A-Za-z0-9_.-]+:"


def read_xml_documents(
    spark: SparkSession,
    paths: str | list[str],
    xsd: str,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
    file_info: bool = False,
    source_col: bool = False,
    strip_namespaces: bool = False,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Read plain / .gz XML files (operators #1/#2) into reference-shaped
    rows: one row per file, single struct column named after the root
    element, plus ``file_info`` {filename, modified, size} when requested
    (convert_xml_to_parquet.py:386-393; .gz decompression is transparent via
    Hadoop codecs, :361-383).

    ``strip_namespaces=True`` reproduces the reference's namespace handling
    (tags split on '}', decode with process_namespaces=False —
    convert_xml_to_parquet.py:198, 227: all names become local names):
    documents are read whole-file as text, namespace declarations and
    prefixes removed, then parsed with ``from_xml`` against the same
    schema. Spark's rowTag path (the default) requires the root tag to
    match literally and keeps prefixed names.

    A file that cannot be read at all (a truncated .gz, say) is skipped
    (``ignoreCorruptFiles``), so one bad input never fails a bulk job."""
    if isinstance(paths, str):
        paths = [paths]
    name, dt = read_schema(load_xsd_struct(spark, xsd), root, xpaths, excludepaths)
    options = {**_XML_OPTIONS, "mode": mode}
    reader = spark.read.option("ignoreCorruptFiles", "true")
    if strip_namespaces:
        raw = reader.text(paths, wholetext=True).select(
            F.regexp_replace(
                F.regexp_replace("value", _NS_DECL_RE, ""), _NS_PREFIX_RE, r"$1"
            ).alias("xml"),
            F.col("_metadata").alias("_metadata"),
        )
        df = raw.select(
            F.from_xml("xml", dt, options).alias("_doc"), "_metadata"
        ).select("_doc.*", "_metadata")
    else:
        df = reader.format("xml").options(rowTag=name, **options).schema(dt).load(paths)
    cols = [rebuild_expr(F.struct(*[F.col(f.name) for f in dt.fields]), dt, name).alias(name)]
    if file_info:
        cols.append(
            F.struct(
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("filename"),
                F.date_format(F.col("_metadata.file_modification_time"), DATE_FMT).alias(
                    "modified"
                ),
                F.col("_metadata.file_size").alias("size"),
            ).alias("file_info")
        )
    if source_col:
        cols.append(
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("_src")
        )
    return df.select(*cols)


def read_xml_documents_stream(
    spark: SparkSession,
    path: str,
    xsd: str,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
) -> DataFrame:
    """Structured-Streaming variant of ``read_xml_documents``: watch a
    directory for arriving XML files and emit reference-shaped rows
    continuously (micro-batches). This is the continuous-ingestion upgrade
    of the reference's batch CLI loop (convert_xml_to_parquet.py:487-535):
    new files become new rows with exactly-once file tracking, and the
    same pruned explicit schema pushes include/exclude-path projection
    into the streaming parse.

    Returns a streaming DataFrame; pair with ``writeStream.format(
    "parquet")`` + checkpoint for an incremental conversion pipeline."""
    name, dt = read_schema(load_xsd_struct(spark, xsd), root, xpaths, excludepaths)
    df = (
        spark.readStream.format("xml")
        .options(rowTag=name, **_XML_OPTIONS)
        .schema(dt)
        .load(path)
    )
    return df.select(
        rebuild_expr(
            F.struct(*[F.col(f.name) for f in dt.fields]), dt, name
        ).alias(name)
    )


def read_xml_archives(
    spark: SparkSession,
    paths: str | list[str],
    xsd: str,
    kind: str,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
    file_info: bool = False,
    drop_malformed: bool = False,
    parse_parallelism: int | None = None,
) -> DataFrame:
    """Read XML members of tar.gz / zip archives (operators #3/#4) into
    reference-shaped rows. Extraction is distributed (binaryFile +
    mapInPandas); XML text is parsed JVM-side via ``from_xml``. Adds hidden
    ``_src``/``_member`` columns for per-member output naming.

    ``drop_malformed=True`` mirrors the reference's decode-error handling
    for archive members (convert_xml_to_parquet.py:231-236): a member whose
    XML fails to decode is dropped (from_xml under PERMISSIVE yields an
    all-null struct for it) instead of becoming an all-null row.

    ``parse_parallelism``: each archive is ONE binaryFile row, so without
    it a single huge archive extracts AND parses on one core. Setting it
    repartitions the extracted member text before ``from_xml``, paying one
    shuffle of raw text to spread the parse (the expensive part) across
    the cluster — the right trade whenever members-per-archive >> archives."""
    if isinstance(paths, str):
        paths = [paths]
    name, dt = read_schema(load_xsd_struct(spark, xsd), root, xpaths, excludepaths)
    members = _containers.expand_archives(spark, paths, kind)
    if parse_parallelism:
        members = members.repartition(parse_parallelism)
    parsed = members.withColumn(
        name, F.from_xml(F.col("xml"), dt, _XML_OPTIONS)
    )
    if drop_malformed:
        any_field = None
        for f in dt.fields:
            c = F.col(f"{name}.{f.name}").isNotNull()
            any_field = c if any_field is None else (any_field | c)
        parsed = parsed.filter(F.col(name).isNotNull() & any_field)
    cols = [rebuild_expr(F.col(name), dt, name).alias(name)]
    if file_info:
        info_fields = (
            _containers.TAR_INFO_SCHEMA if kind == "tar" else _containers.ZIP_INFO_SCHEMA
        )
        names = [c.split()[0] for c in info_fields.split(", ")]
        cols.append(F.struct(*[F.col(n) for n in names]).alias("file_info"))
    cols += [F.col("src").alias("_src"), F.col("member").alias("_member")]
    return parsed.select(*cols)


# ---------------------------------------------------------------------------
# conversion drivers (reference operators #11/#12/#13)
# ---------------------------------------------------------------------------


def _expand_inputs(inputs: Iterable[str]) -> list[str]:
    """Glob-expand + dedupe, like the reference driver
    (convert_xml_to_parquet.py:464-475)."""
    if isinstance(inputs, str):
        inputs = [inputs]
    out: set[str] = set()
    for pattern in inputs:
        matches = glob.glob(pattern)
        out.update(matches if matches else [pattern])
    return sorted(out)


_ARCHIVE_EXTS = {".tar": "tar", ".tar.gz": "tar", ".tgz": "tar", ".zip": "zip"}


def file_kind(path: str) -> str:
    """'tar' | 'zip' | 'plain' from the extension of one input file: which
    reader it needs (plain covers .xml and .gz documents)."""
    low = path.lower()
    for ext, kind in _ARCHIVE_EXTS.items():
        if low.endswith(ext):
            return kind
    return "plain"


def output_base(input_file: str, target_path: str | None = None) -> str:
    """Reference output naming (convert_xml_to_parquet.py:489-508): strip
    .tgz/.gz/.tar/.zip/.xml suffixes in order, then resolve against target
    dir (or the input's own dir)."""
    path, base = os.path.split(os.path.realpath(input_file))
    for suffix in (".tgz", ".gz", ".tar", ".zip", ".xml"):
        if base.endswith(suffix):
            base = base[: -len(suffix)]
    return os.path.join(target_path or path, base)


def convert(
    spark: SparkSession,
    inputs: Iterable[str],
    xsd: str,
    target_path: str | None = None,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
    file_info: bool = False,
    delete_xml: bool = False,
) -> list[str]:
    """Reference-compatible conversion driver: one .parquet file per input
    XML (or per archive member), same naming as convert_xml_to_parquet.py.
    Returns the list of output files written.

    Each input is ONE Spark write job: its rows carry a ``_member`` column
    (the archive member name; ``"xml"`` for a plain file, the file's stem
    for a .gz), are written with ``partitionBy("_member")``, and each
    partition's file is moved to ``<output_base>.<member>.parquet``.
    Malformed documents and archive members are dropped, as the reference
    does (convert_xml_to_parquet.py:231-236); an input left with no rows
    is logged and skipped, and so is one whose conversion fails.

    The reference's size-ordered multiprocess pool (operator #12,
    :477-485, :510-524) is replaced by Spark's own task scheduler; the
    per-input loop exists only to reproduce the one-file-per-input naming
    contract. For bulk conversion at scale use ``convert_to_dataset``.
    """
    if target_path and not os.path.isdir(target_path):
        raise FileNotFoundError(f"invalid target_path: {target_path}")
    files = _expand_inputs(inputs)
    _logger.info("Processing %d files", len(files))
    written: list[str] = []
    for input_file in files:
        base = output_base(input_file, target_path)
        kind = file_kind(input_file)
        try:
            if kind == "plain":
                df = read_xml_documents(
                    spark, input_file, xsd, root, xpaths, excludepaths, file_info,
                    mode="DROPMALFORMED",
                )
                name = os.path.basename(input_file)
                df = df.withColumn("_member", F.lit(name[:-3] if name.endswith(".gz") else "xml"))
            else:
                df = read_xml_archives(
                    spark, input_file, xsd, kind, root, xpaths, excludepaths, file_info,
                    drop_malformed=True,
                ).drop("_src")
            # the temp dir sits beside the outputs so the final moves are renames
            with tempfile.TemporaryDirectory(prefix="xml2pq_", dir=os.path.dirname(base)) as tmp:
                # coalesce(1): one task, so one part file per member
                df.coalesce(1).write.mode("overwrite").partitionBy("_member").parquet(tmp)
                outputs = []
                for part_dir in sorted(glob.glob(os.path.join(glob.escape(tmp), "_member=*"))):
                    # Spark escapes partition values (%XX) in directory names
                    member = unquote(os.path.basename(part_dir)[len("_member="):])
                    (part,) = glob.glob(os.path.join(glob.escape(part_dir), "part-*.parquet"))
                    out = f"{base}.{member}.parquet"
                    shutil.move(part, out)
                    outputs.append(out)
        except Exception:  # reference swallows per-file errors and logs (:231-236)
            _logger.exception("failed to convert %s", input_file)
            continue
        if not outputs:
            _logger.error("skipping %s: no well-formed XML", input_file)
            continue
        written += outputs
        if delete_xml:
            os.remove(input_file)
        _logger.debug("Completed %s", input_file)
    return written


def convert_to_dataset(
    spark: SparkSession,
    inputs: Iterable[str],
    xsd: str,
    target: str,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
    file_info: bool = False,
) -> None:
    """Scale path: ONE Spark job converts every input into a single
    partitioned parquet dataset (source file recorded as a column). This is
    the shape you want at 100 TB — a million tiny per-file parquet outputs
    is an anti-pattern; a partitioned dataset keeps file counts sane and
    lets downstream reads prune by source. Malformed documents are dropped,
    as in ``convert``."""
    files = _expand_inputs(inputs)
    df = read_xml_documents(
        spark, files, xsd, root, xpaths, excludepaths, file_info, source_col=True,
        mode="DROPMALFORMED",
    )
    df.write.mode("overwrite").parquet(target)


def convert_archives_to_dataset(
    spark: SparkSession,
    inputs: Iterable[str],
    xsd: str,
    kind: str,
    target: str,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
    file_info: bool = False,
    parse_parallelism: int | None = None,
) -> None:
    """Scale path for archives: ONE Spark job expands every tar.gz/zip
    member (executor-side, binaryFile + mapInPandas — no driver loop, no
    per-member collect) and writes a single parquet dataset with the
    source archive and member name as columns. This replaces ``convert``'s
    reference-compat per-member naming loop (which collects distinct
    members on the driver) for bulk workloads: a 100k-member archive set
    converts with zero driver round-trips, and downstream reads can filter
    on _src/_member with ordinary predicates. For few-archives/many-members
    inputs pass ``parse_parallelism`` to spread the XML parse across cores
    (see ``read_xml_archives``)."""
    files = _expand_inputs(inputs)
    df = read_xml_archives(
        spark, files, xsd, kind, root, xpaths, excludepaths, file_info,
        drop_malformed=True, parse_parallelism=parse_parallelism,
    ).withColumn("_src", F.element_at(F.split(F.col("_src"), "/"), -1))
    df.write.mode("overwrite").parquet(target)
