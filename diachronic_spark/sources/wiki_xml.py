"""Wiki revision-history XML ingestion (SURVEY §2.1 S4/S5).

The reference pipes ``7z e -so`` into a SAX iterparse loop
(/root/reference/main.py:172-175) one process per dump file. The Spark
form distributes the same work two ways:

1. ``read_pages_xml``: Spark's built-in XML source (rowTag="page") —
   declarative, whole files split across executors, columns pruned at
   the scan. Preferred when dumps are in a Spark-readable codec
   (bz2/zstd/plain; Wikimedia also publishes .bz2 dumps).

2. ``parse_dump_files``: the driver packs the file paths into
   ``min(len(paths), defaultParallelism)`` size-balanced bins (largest
   file first into the lightest bin — the reference's bounded process
   pool, main.py:26,73-87, as one wave of tasks). Partition ``i`` of
   ``spark.range(k)`` is bin ``i``, so the fan-out needs no shuffle,
   and each ``mapInPandas`` task streams its bin's files in order
   through an incremental XML parse (same lxml-style event loop),
   emitting one Arrow batch per ``maxRecordsPerBatch`` rows, so worker
   memory stays bounded whatever the file size. This is the path for
   codecs Spark can't read (7z): the task shells out to ``7z e -so``
   exactly like the reference when the binary exists, else streams
   through the pure-stdlib reader; plain/bz2/gz use Python codecs.

Both yield the flat revision schema (page_id, rev_seq, namespace,
title, timestamp, text) feeding operators.snapshot.daily_snapshot.
"""

from __future__ import annotations

import bz2
import datetime as dt
import gzip
import heapq
import io
import itertools
import os
import re
import shutil
import subprocess
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import WIKI_REVISIONS

# MediaWiki export namespace (reference diachronic/conf.yml:6).
MEDIAWIKI_NS = "http://www.mediawiki.org/xml/export-0.10/"

REVISION_SQL_SCHEMA = (
    "page_id bigint, rev_seq int, namespace string, title string, "
    "timestamp timestamp, text string"
)


PAGE_XML_SCHEMA = (
    "title string, ns string, id long, "
    "revision array<struct<id: long, timestamp: string, text: string>>"
)


def read_pages_xml(spark: SparkSession, path: str) -> DataFrame:
    """Declarative XML scan: one row per <page>, revisions exploded in
    document order (posexplode preserves it — required because the
    snapshot dedup is order-sensitive, SURVEY §1.2).

    Explicit schema (timestamps kept as strings and parsed with the
    reference's exact format, main.py:153) — never infer at scale.
    """
    pages = (
        spark.read.format("xml")
        .option("rowTag", "page")
        .schema(PAGE_XML_SCHEMA)
        .load(path)
    )
    rev = F.posexplode("revision").alias("rev_seq", "rev")
    exploded = pages.select(
        F.col("id").cast("long").alias("page_id"),
        F.col("ns").cast("string").alias("namespace"),
        F.col("title").cast("string").alias("title"),
        rev,
    )
    return exploded.select(
        "page_id",
        F.col("rev_seq").cast("int"),
        "namespace",
        "title",
        # reference main.py:153: strip trailing Z, parse seconds
        F.to_timestamp(
            F.regexp_replace(F.col("rev.timestamp").cast("string"), "Z$", ""),
            "yyyy-MM-dd'T'HH:mm:ss",
        ).alias("timestamp"),
        F.col("rev.text").cast("string").alias("text"),
    )


def _open_stream(path: str):
    """Decompressed byte stream for one dump file.

    7z: external binary piped exactly like the reference (main.py:173)
    when installed (the fast C path); otherwise the pure-stdlib
    container reader (sources/sevenzip.py — lzma/bz2 codecs, streaming,
    CRC-verified), so the path is executable on binary-less executors.
    bz2/gz: Python codecs; anything else: raw bytes.
    """
    if path.endswith(".7z"):
        if shutil.which("7z") is None:
            from .sevenzip import open_7z_stream

            return open_7z_stream(path)
        proc = subprocess.Popen(["7z", "e", "-so", path], stdout=subprocess.PIPE)
        return proc.stdout
    if path.endswith(".bz2"):
        return bz2.open(path, "rb")
    if path.endswith(".gz"):
        return gzip.open(path, "rb")
    return io.open(path, "rb")


# The exact shape MediaWiki exports write: YYYY-MM-DDTHH:MM:SSZ.
_ISO_Z = re.compile(r"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\dZ", re.ASCII)


def _parse_timestamp(text: str) -> dt.datetime:
    """The reference's ``strptime(text[:-1], "%Y-%m-%dT%H:%M:%S")``
    (main.py:153), with a fixed-width fast path: strings of the exact
    export shape go through ``fromisoformat`` (about 9x cheaper).
    Anything else, and any out-of-range value, takes the ``strptime``
    call itself, so the accepted inputs and raised errors are
    unchanged."""
    if _ISO_Z.fullmatch(text):
        try:
            return dt.datetime.fromisoformat(text[:19])
        except ValueError:
            pass
    return dt.datetime.strptime(text[:-1], "%Y-%m-%dT%H:%M:%S")


def iterparse_revisions(stream) -> Iterator[tuple]:
    """Incremental end-tag event loop over one dump stream.

    Mirrors the reference's dispatch (main.py:135-161) but emits EVERY
    revision row flat (page_id, rev_seq, ns, title, ts, text) — the
    filter/dedup lives downstream in the declarative snapshot operator,
    where Catalyst can push predicates and fuse.
    Uses stdlib ElementTree iterparse (lxml-compatible API) with
    element.clear() for O(page) memory, like main.py:161,170.
    """
    import xml.etree.ElementTree as ET

    ns = f"{{{MEDIAWIKI_NS}}}"
    page_id = 0
    rev_seq = 0
    title = None
    namespace = None
    pid = None
    for _, elem in ET.iterparse(stream, events=("end",)):
        tag = elem.tag.removeprefix(ns)
        if tag == "title":
            title = elem.text
        elif tag == "ns":
            namespace = elem.text
        elif tag == "id" and pid is None:
            pid = int(elem.text) if elem.text else None
        elif tag == "revision":
            ts_el = elem.find(f"{ns}timestamp")
            tx_el = elem.find(f"{ns}text")
            ts = None
            if ts_el is not None and ts_el.text:
                ts = _parse_timestamp(ts_el.text)
            yield (
                pid if pid is not None else page_id,
                rev_seq,
                namespace,
                title,
                ts,
                tx_el.text if tx_el is not None else None,
            )
            rev_seq += 1
            elem.clear()
        elif tag == "page":
            page_id += 1
            rev_seq = 0
            title = None
            namespace = None
            pid = None
            elem.clear()


PARSE_STATUS_SCHEMA = REVISION_SQL_SCHEMA + ", src_path string, error string"

_REV_COLS = ["page_id", "rev_seq", "namespace", "title", "timestamp", "text"]


def _file_weight(path: str) -> int:
    """Size on disk; 0 when the driver cannot stat the path."""
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def _plan_bins(paths: list[str], k: int) -> list[list[str]]:
    """Pack ``paths`` into ``k`` bins, LPT (longest processing time
    first): each file, largest first, goes to the bin with the least
    bytes so far. Ties go to the bin with fewest files, then the lowest
    index, so equal weights (e.g. paths the driver cannot stat) are
    dealt round-robin in input order."""
    weight = {p: _file_weight(p) for p in paths}
    bins: list[list[str]] = [[] for _ in range(k)]
    loads = [(0, 0, i) for i in range(k)]  # (bytes, files, bin): a heap
    for path in sorted(paths, key=weight.get, reverse=True):
        load, n, i = heapq.heappop(loads)
        bins[i].append(path)
        heapq.heappush(loads, (load + weight[path], n + 1, i))
    return bins


def _fan_out(
    spark: SparkSession,
    paths: list[str],
    parse_bin: Callable[[list[str]], Iterator[pd.DataFrame]],
    schema: str,
) -> DataFrame:
    """Run ``parse_bin`` over size-balanced bins of ``paths`` in one
    wave of ``min(len(paths), defaultParallelism)`` tasks. Partition
    ``i`` of ``spark.range`` carries the single id ``i``, and its task
    parses bin ``i``: no shuffle runs before the parse."""
    k = max(1, min(len(paths), spark.sparkContext.defaultParallelism))
    bins = _plan_bins(paths, k)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf["id"]:
                yield from parse_bin(bins[i])

    return spark.range(0, k, 1, k).mapInPandas(fn, schema)


def _file_revisions(path: str) -> Iterator[tuple]:
    with _open_stream(path) as stream:
        yield from iterparse_revisions(stream)


def parse_dump_files_with_status(
    spark: SparkSession, paths: list[str]
) -> DataFrame:
    """Fault-tolerant distributed dump parse.

    The reference wraps each file in try/except and logs failures
    without killing the run (main.py:84-94, 103) — at dump scale SOME
    file is always truncated. The relational form of that failure log:
    every output row carries (src_path, error); a failed file
    contributes exactly one row with error set and null revision
    fields. Split with ``split_parse_failures``. The files fan out in
    size-balanced bins, one task per bin (see ``parse_dump_files``);
    each file is parsed whole before any of its rows are emitted, so a
    file is all-or-nothing and worker memory is O(largest file).
    """

    def parse_bin(bin_paths: list[str]) -> Iterator[pd.DataFrame]:
        for path in bin_paths:
            try:
                rows = list(_file_revisions(path))
            except Exception as e:  # the reference's per-file net
                yield pd.DataFrame(
                    [[None] * len(_REV_COLS) + [path, f"{type(e).__name__}: {e}"]],
                    columns=_REV_COLS + ["src_path", "error"],
                )
                continue
            if rows:
                out = pd.DataFrame(rows, columns=_REV_COLS)
                out["src_path"] = path
                out["error"] = None
                yield out

    return _fan_out(spark, paths, parse_bin, PARSE_STATUS_SCHEMA)


def split_parse_failures(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(revisions, failures) from the with-status parse output."""
    revisions = parsed.filter(F.col("error").isNull()).select(*_REV_COLS)
    failures = (
        parsed.filter(F.col("error").isNotNull()).select("src_path", "error")
    )
    return revisions, failures


def parse_dump_files(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Strict distributed dump parse: any unreadable file fails the job
    (use parse_dump_files_with_status for the reference's log-and-
    continue behavior). Each task streams its bin's files in order and
    emits a batch every ``spark.sql.execution.arrow.maxRecordsPerBatch``
    rows (no limit when that conf is 0 or less), so worker memory does
    not grow with the file size."""
    batch = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    batch_rows = batch if batch > 0 else None

    def parse_bin(bin_paths: list[str]) -> Iterator[pd.DataFrame]:
        rows = itertools.chain.from_iterable(map(_file_revisions, bin_paths))
        while chunk := list(itertools.islice(rows, batch_rows)):
            yield pd.DataFrame(chunk, columns=_REV_COLS)

    return _fan_out(spark, paths, parse_bin, REVISION_SQL_SCHEMA)
