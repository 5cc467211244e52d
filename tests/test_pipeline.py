"""End-to-end wiki pipeline (SURVEY §5.2 item 2): synthetic XML dump →
(declarative XML scan | mapInPandas iterparse) → snapshot → parquet,
checked against the pure-Python replay spec; manifest anti-join.
"""

from __future__ import annotations

import bz2
import datetime as dt
import os
import pathlib
from collections import Counter

import pytest

from diachronic_spark.pipeline import (
    PipelineConfig,
    snapshot_from_dumps,
    snapshot_from_xml,
    write_snapshots,
)
from diachronic_spark.sources.manifest import files_df, files_to_run
from diachronic_spark.sources.wiki_fixture import generate_rows
from diachronic_spark.sources.wiki_xml import (
    MEDIAWIKI_NS,
    _plan_bins,
    parse_dump_files,
    parse_dump_files_with_status,
    split_parse_failures,
)

from .test_snapshot import _collect_sorted, _replay_all


def normalize_page_ns(rows):
    """MediaWiki XML carries <ns> once per <page>; the fixture varies it
    per revision. Project every row onto its page's (first) namespace —
    what the XML document actually represents."""
    first_ns = {}
    for page_id, seq, ns, title, ts, text in sorted(rows):
        first_ns.setdefault(page_id, ns)
    return [
        (pid, seq, first_ns[pid], title, ts, text)
        for pid, seq, ns, title, ts, text in rows
    ]


def rows_to_xml(rows) -> str:
    """Serialize fixture rows as a MediaWiki export document."""
    from collections import defaultdict
    from xml.sax.saxutils import escape

    pages = defaultdict(list)
    meta = {}
    for page_id, seq, ns, title, ts, text in sorted(rows):
        pages[page_id].append((seq, ts, text))
        meta.setdefault(page_id, (ns, title))
    out = [f'<mediawiki xmlns="{MEDIAWIKI_NS}">']
    for page_id in sorted(pages):
        ns, title = meta[page_id]
        out.append("  <page>")
        out.append(f"    <title>{escape(title or '')}</title>")
        out.append(f"    <ns>{escape(ns or '')}</ns>")
        out.append(f"    <id>{page_id}</id>")
        for seq, ts, text in sorted(pages[page_id]):
            out.append("    <revision>")
            out.append(f"      <id>{page_id * 1000 + seq}</id>")
            out.append(
                f"      <timestamp>{ts.strftime('%Y-%m-%dT%H:%M:%S')}Z</timestamp>"
            )
            if text is not None:
                out.append(f"      <text>{escape(text)}</text>")
            else:
                out.append("      <text />")
            out.append("    </revision>")
        out.append("  </page>")
    out.append("</mediawiki>")
    return "\n".join(out)


@pytest.fixture(scope="module")
def xml_paths(tmp_path_factory):
    """The fixture corpus split across two dump files (plain + bz2)."""
    rows = normalize_page_ns(generate_rows(include_out_of_order=False))
    page_ids = sorted({r[0] for r in rows})
    half = set(page_ids[: len(page_ids) // 2])
    a = [r for r in rows if r[0] in half]
    b = [r for r in rows if r[0] not in half]
    d = tmp_path_factory.mktemp("dumps")
    pa = d / "dump-a.xml"
    pa.write_text(rows_to_xml(a), encoding="utf-8")
    pb = d / "dump-b.xml.bz2"
    pb.write_bytes(bz2.compress(rows_to_xml(b).encode("utf-8")))
    return rows, str(pa), str(pb)


def test_mapinpandas_parse_path_matches_replay(spark, xml_paths):
    rows, pa, pb = xml_paths
    snap = snapshot_from_dumps(spark, [pa, pb])
    assert _collect_sorted(snap) == _replay_all(rows)


def test_declarative_xml_path_matches_replay(spark, xml_paths):
    rows, pa, _pb = xml_paths
    # XML source reads the uncompressed file (bz2 of the other half is
    # exercised by the mapInPandas path above)
    page_ids = sorted({r[0] for r in rows})
    half = set(page_ids[: len(page_ids) // 2])
    a_rows = [r for r in rows if r[0] in half]
    snap = snapshot_from_xml(spark, pa)
    assert _collect_sorted(snap) == _replay_all(a_rows)


def test_write_snapshots_roundtrip(spark, xml_paths, tmp_path):
    rows, pa, pb = xml_paths
    snap = snapshot_from_dumps(spark, [pa, pb])
    out = str(tmp_path / "out")
    write_snapshots(snap, out, PipelineConfig(compression="zstd"))
    back = spark.read.parquet(out)
    assert _collect_sorted(back) == _replay_all(rows)
    assert [f.name for f in back.schema.fields] == [
        "namespace", "title", "timestamp", "text",
    ]


def test_write_snapshots_brotli(spark, xml_paths, tmp_path):
    """S6 brotli path (reference main.py:182 writes brotli parquet):
    same sink as the zstd roundtrip but with compression=brotli. Stock
    Spark has no brotli codec class, so write_snapshots probes the JVM
    BEFORE the job and falls back to zstd with a loud warning naming
    the jar (com.github.rdblue:brotli-codec) — this runs everywhere,
    asserting either the real brotli write (jar present) or the
    documented fallback, never a mid-job crash (VERDICT r2 item 5)."""
    import warnings

    rows, pa, pb = xml_paths
    snap = snapshot_from_dumps(spark, [pa, pb])
    out = str(tmp_path / "out_br")
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.hadoop.io.compress.BrotliCodec"
        )
        have_brotli = True
    except Exception:
        have_brotli = False
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        write_snapshots(snap, out, PipelineConfig(compression="brotli"))
    fallback_warns = [w for w in caught if "brotli" in str(w.message)]
    if have_brotli:
        assert not fallback_warns
        codecs = {
            f.name.split(".")[-2]
            for f in pathlib.Path(out).glob("*.parquet")
        }
        assert codecs == {"brotli"}, codecs
    else:
        assert fallback_warns, "missing codec must warn loudly"
        assert "brotli-codec" in str(fallback_warns[0].message)
    back = spark.read.parquet(out)
    assert _collect_sorted(back) == _replay_all(rows)


def test_manifest_anti_join(spark):
    manifest = (
        '{"jobs": {"metahistory7zdump": {"files": '
        '{"enwiki-a.7z": {}, "enwiki-b.7z": {}, "enwiki-c.7z": {}}}}}'
    )
    cands = files_df(spark, {"enwiki": manifest})
    done = spark.createDataFrame(
        [("enwiki-b.7z.parquet",)], "blob_name string"
    )
    todo = files_to_run(cands, done)
    got = sorted(r["file_name"] for r in todo.collect())
    assert got == ["enwiki-a.7z", "enwiki-c.7z"]
    # overwrite semantics: nothing done -> everything runs
    none_done = spark.createDataFrame([], "blob_name string")
    assert files_to_run(cands, none_done).count() == 3


def test_parse_with_status_logs_failures_and_continues(
    spark, xml_paths, tmp_path
):
    """The reference's per-file try/except + failure log
    (main.py:84-94, 103) as a relational channel: a corrupt file
    yields one failure row; good files parse fully."""
    rows, pa, pb = xml_paths
    bad = tmp_path / "corrupt.xml.bz2"
    bad.write_bytes(b"this is not bzip2 data")
    parsed = parse_dump_files_with_status(
        spark, [str(pa), str(pb), str(bad)]
    )
    revisions, failures = split_parse_failures(parsed)
    good = parse_dump_files(spark, [str(pa), str(pb)])
    assert revisions.count() == good.count() > 0
    fail_rows = failures.collect()
    assert len(fail_rows) == 1
    assert fail_rows[0].src_path.endswith("corrupt.xml.bz2")
    assert fail_rows[0].error


def _dump_rows(file_no: int, n_pages: int) -> list[tuple]:
    """Three revisions a day apart for each of ``n_pages`` pages."""
    base = dt.datetime(2001, 2, 1)
    return [
        (file_no * 1000 + p, seq, "0", f"F{file_no} P{p}",
         base + dt.timedelta(days=seq, seconds=p), f"f{file_no} p{p} r{seq}")
        for p in range(n_pages)
        for seq in range(3)
    ]


@pytest.fixture(scope="module")
def many_dumps(tmp_path_factory):
    """12 dump files, more than the session's 8 cores; file 0 dominates
    and every third file is bz2. Maps path -> revision count."""
    d = tmp_path_factory.mktemp("many_dumps")
    counts = {}
    for i in range(12):
        rows = _dump_rows(i, 150 if i == 0 else i + 1)
        xml = rows_to_xml(rows).encode("utf-8")
        if i % 3 == 2:
            p = d / f"dump-{i:02d}.xml.bz2"
            p.write_bytes(bz2.compress(xml))
        else:
            p = d / f"dump-{i:02d}.xml"
            p.write_bytes(xml)
        counts[str(p)] = len(rows)
    return counts


def _per_file_counts(parsed) -> dict:
    return {
        r["src_path"]: r["count"]
        for r in parsed.groupBy("src_path").count().collect()
    }


def test_plan_bins_lpt(many_dumps):
    """Largest-first into the lightest bin: every path lands in exactly
    one bin, and the dominant file gets a bin to itself."""
    paths = list(many_dumps)
    dominant = max(paths, key=os.path.getsize)
    for order in (paths, paths[::-1]):
        bins = _plan_bins(order, 8)
        assert len(bins) == 8
        assert sorted(p for b in bins for p in b) == sorted(paths)
        assert [dominant] in bins


def test_plan_bins_unstatable_paths_round_robin():
    paths = [f"/nonexistent/dump-{i}.xml.7z" for i in range(7)]
    assert _plan_bins(paths, 3) == [
        [paths[0], paths[3], paths[6]],
        [paths[1], paths[4]],
        [paths[2], paths[5]],
    ]


def test_parse_fan_out_is_one_wave_without_exchange(spark, many_dumps):
    """One task per bin, min(len(paths), defaultParallelism) of them,
    and no shuffle below the parse."""
    paths = list(many_dumps)
    cores = spark.sparkContext.defaultParallelism
    for subset in (paths, paths[:2], paths[:1]):
        parsed = parse_dump_files(spark, subset)
        assert parsed.rdd.getNumPartitions() == min(len(subset), cores)
        plan = parsed._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "Exchange" not in plan, plan


def test_parse_fan_out_parses_every_path_once(spark, many_dumps):
    paths = list(many_dumps)
    assert _per_file_counts(parse_dump_files_with_status(spark, paths)) == many_dumps
    assert parse_dump_files(spark, paths).count() == sum(many_dumps.values())


def test_parse_fan_out_unstatable_paths_still_parse(
    spark, many_dumps, monkeypatch
):
    """Paths the driver cannot stat weigh 0 in the bin planner; the
    workers still open and parse them."""

    def no_stat(path):
        raise OSError(f"cannot stat {path}")

    paths = list(many_dumps)
    with monkeypatch.context() as m:
        m.setattr(os.path, "getsize", no_stat)
        parsed = parse_dump_files_with_status(spark, paths)
    assert _per_file_counts(parsed) == many_dumps


def test_parse_fan_out_matches_per_file_parse(spark, many_dumps, xml_paths):
    """Binning files together changes no revision row: the batch parse
    equals the union of one parse per file."""
    paths = list(many_dumps) + list(xml_paths[1:])
    together = Counter(map(tuple, parse_dump_files(spark, paths).collect()))
    one_by_one = Counter(
        tuple(r) for p in paths for r in parse_dump_files(spark, [p]).collect()
    )
    assert together == one_by_one


def test_parse_with_status_truncated_file_is_all_or_nothing(
    spark, many_dumps, tmp_path
):
    """A file that breaks after some revisions parsed still yields one
    error row and none of its revisions, whatever bin it shares."""
    src = next(p for p in many_dumps if p.endswith("dump-00.xml"))
    cut = tmp_path / "truncated.xml"
    xml = pathlib.Path(src).read_bytes()
    cut.write_bytes(xml[: len(xml) // 2])
    paths = list(many_dumps) + [str(cut)]
    revisions, failures = split_parse_failures(
        parse_dump_files_with_status(spark, paths)
    )
    assert revisions.count() == sum(many_dumps.values())
    assert [r.src_path for r in failures.collect()] == [str(cut)]


def test_strict_parse_batches_across_files(spark, many_dumps):
    """With an Arrow batch size far below a file's revision count (and
    not dividing it), the strict parse still emits every row once."""
    paths = list(many_dumps)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        small = parse_dump_files(spark, paths)
    finally:
        spark.conf.set(key, old)
    assert Counter(map(tuple, small.collect())) == Counter(
        map(tuple, parse_dump_files(spark, paths).collect())
    )


def test_pipeline_config_from_yaml(tmp_path):
    """conf.yml layout parity (reference diachronic/conf.yml:1-15) with
    safe_load and call-time I/O."""
    import datetime as dt

    from diachronic_spark.pipeline import PipelineConfig

    y = tmp_path / "conf.yml"
    y.write_text(
        "wiki_info:\n"
        "  wikis: [enwiktionary, enwiki]\n"
        "  month_source: '20180101'\n"
        "  datetime_init: 2001-01-15 00:00:00\n"
        "download:\n"
        "  url_prefix: 'http://dumps.example.org/'\n"
        "upload:\n"
        "  output_path: '/tmp/out/'\n"
    )
    cfg = PipelineConfig.from_yaml(str(y))
    assert cfg.wikis == ("enwiktionary", "enwiki")
    assert cfg.epoch == dt.datetime(2001, 1, 15)
    assert cfg.dump_url("enwiki") == "http://dumps.example.org/enwiki/20180101/"
    assert cfg.output_prefix("enwiki") == "enwiki/20180101/"


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_OBJECT_STORE_URI"),
    reason="set SPARK_GRAFT_OBJECT_STORE_URI=gs://bucket/prefix (or s3a://) "
    "and provide connector jars + credentials to run the cloud-sink test",
)
def test_write_snapshots_object_store(spark, xml_paths):
    """S8 integration: write_snapshots straight to a cloud URI and read
    it back — same direct-URI sink the local roundtrip exercises, but
    through the real Hadoop connector (jar coordinates in README)."""
    rows, pa, pb = xml_paths
    base = os.environ["SPARK_GRAFT_OBJECT_STORE_URI"].rstrip("/")
    out = f"{base}/diachronic_spark_it/snapshots"
    snap = snapshot_from_dumps(spark, [pa, pb])
    write_snapshots(snap, out, PipelineConfig(compression="zstd"))
    back = spark.read.parquet(out)
    assert _collect_sorted(back) == _replay_all(rows)
