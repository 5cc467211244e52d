"""Seeded input generators for the benchmark, with an on-disk cache.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical files. Generated inputs are cached under
``.perfbench_cache/`` in the working directory, keyed by
``(kind, seed, size)`` and guarded by a content hash, so a repeated run
re-uses them and never pays generation inside its set-up.

Two kinds of input:

- ``tables``: the ten tables the declared queries read (TPC-H-style
  star schema plus ``events``, ``documents`` and ``embeddings``). Row
  counts, value domains and types follow the engine's synthetic test
  tables at the same scale factor.
- ``dumps``: MediaWiki revision-history XML shards packed as LZMA2
  ``.7z`` archives by the package's own ``sources.sevenzip.write_7z``,
  the input of the reference job, plus the expected daily snapshot
  computed here in plain Python.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = ".perfbench_cache"
HERE = os.path.dirname(os.path.abspath(__file__))
# Child that runs one pickled build(out, seed) and writes its metadata.
_BUILD_CHILD = (
    "import json, pickle, sys; sys.path.insert(0, sys.argv[1]); "
    "build, out, seed = pickle.load(sys.stdin.buffer); "
    "json.dump(build(out, seed), open(sys.argv[2], 'w'))"
)


# ---------------------------------------------------------------- cache


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        if name == "MANIFEST.json":
            continue
        h.update(name.encode())
        with open(os.path.join(root, name), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def cached(kind: str, seed: int, size: str, build) -> tuple[str, dict]:
    """Directory holding ``build(dir, seed)``'s files, and its metadata.

    ``build`` writes files into the directory and returns a JSON-able
    dict. A cache entry is re-used only if its content hash still
    matches the manifest; otherwise it is rebuilt, in a child process so
    that the caller's peak RSS does not depend on whether it was cached.
    """
    root = os.path.join(CACHE_DIR, f"{kind}-{size}-s{seed}")
    manifest = os.path.join(root, "MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            meta = json.load(f)
        if meta.get("sha256") == _digest(root):
            return root, meta
    shutil.rmtree(root, ignore_errors=True)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # A plain child process, waited for here: unlike multiprocessing, it
    # leaves no helper process (resource tracker) behind.
    manifest_tmp = os.path.join(tmp, "MANIFEST.json")
    subprocess.run(
        [sys.executable, "-c", _BUILD_CHILD, HERE, manifest_tmp],
        input=pickle.dumps((build, tmp, seed)), check=True,
    )
    with open(manifest_tmp) as f:
        meta = json.load(f)
    meta["sha256"] = _digest(tmp)
    with open(manifest_tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, root)
    return root, meta


# --------------------------------------------------------------- tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_FLAGS = [("A", "O"), ("N", "F"), ("R", "O"), ("A", "F"), ("N", "O"), ("R", "F")]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, start: dt.date, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    off = rng.integers(0, n_days, n).astype("timedelta64[D]")
    return base + off.astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list, n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _texts(rng, n: int, lo: int, hi: int) -> list[str]:
    words = np.asarray(_WORDS, dtype=object)
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(words), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[idx[pos:pos + k]]))
        pos += k
    return out


def build_tables(out: str, seed: int, sf: float) -> dict:
    """The ten query tables at scale factor ``sf``, one parquet each."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    write("part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                _pick(rng, _ADJ, n_part), _pick(rng, _NOUN, n_part)
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
    })
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    flags = rng.integers(0, len(_FLAGS), n_li)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [_FLAGS[f][0] for f in flags],
        "l_linestatus": [_FLAGS[f][1] for f in flags],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_li),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    write("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_docs, 10, 100)
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.asarray(_LANGS, dtype=object)[
            rng.choice(len(_LANGS), n_docs, p=_LANG_P)
        ],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return {"sf": sf, "lineitem_rows": n_li}


# ---------------------------------------------------------------- dumps

EPOCH = dt.datetime(2001, 1, 15)  # the snapshot operator's default epoch
_NS = "http://www.mediawiki.org/xml/export-0.10/"
# Namespace mix of a real history dump: mostly articles (0), then talk,
# user, project, template and category pages, all dropped by the job.
_NAMESPACES = ["0"] * 6 + ["1", "2", "4", "10", "14"]


def _page_revisions(rng, n_revs: int) -> list[tuple[dt.datetime, bool]]:
    """Timestamps (sorted, as MediaWiki writes them) and null-text flags.

    Mixes the cases the daily snapshot must get right: revisions before
    the epoch, same-day bursts, exact-timestamp ties and pairs that
    straddle midnight.
    """
    t = dt.datetime(2000, 6, 1) + dt.timedelta(
        seconds=int(rng.integers(0, 400 * 86_400))
    )
    out = []
    for _ in range(n_revs):
        r = rng.random()
        if r < 0.30:    # same-day burst
            t += dt.timedelta(seconds=int(rng.integers(1, 3_600)))
        elif r < 0.35:  # exact tie with the previous revision
            pass
        elif r < 0.45:  # straddle the next midnight
            nxt = dt.datetime.combine(t.date(), dt.time()) + dt.timedelta(days=1)
            t = max(t, nxt - dt.timedelta(seconds=int(rng.integers(1, 3))))
            out.append((t, rng.random() < 0.05))
            t = nxt + dt.timedelta(seconds=int(rng.integers(0, 3)))
        else:
            t += dt.timedelta(seconds=int(rng.integers(3_600, 20 * 86_400)))
        out.append((t, rng.random() < 0.05))
    return out[:n_revs]


def build_dumps(out: str, seed: int, n_files: int, total_mb: float) -> dict:
    """``n_files`` ``.7z`` shards of about ``total_mb`` MB of XML in all.

    Shard sizes are skewed (weights 1/(i+1)), as real history shards
    are. Returns the shard list and the expected snapshot digest.
    """
    from diachronic_spark.sources.sevenzip import write_7z

    rng = np.random.default_rng([seed, 2])
    weights = 1.0 / np.arange(1, n_files + 1)
    budgets = (weights / weights.sum() * total_mb * 1e6).astype(int)
    words = np.asarray(_WORDS, dtype=object)
    truth: list[tuple] = []
    files, xml_bytes, n_revisions, page_id = [], 0, 0, 0
    shards = []
    for i, budget in enumerate(budgets):
        parts = [f'<mediawiki xmlns="{_NS}" xml:lang="en">\n']
        size = 0
        while size < budget:
            page_id += 1
            ns = _NAMESPACES[int(rng.integers(0, len(_NAMESPACES)))]
            title = f"Page {page_id}" if ns == "0" else f"NS{ns}:Page {page_id}"
            revs = _page_revisions(rng, int(rng.integers(1, 40)))
            page = [
                f"<page>\n<title>{escape(title)}</title>\n<ns>{ns}</ns>\n"
                f"<id>{page_id}</id>\n"
            ]
            kept: dict[dt.date, tuple] = {}
            for seq, (ts, null_text) in enumerate(revs):
                if null_text:
                    text, body = None, '<text bytes="0" deleted="deleted" />'
                else:
                    n = int(rng.integers(20, 400))
                    text = " ".join(words[rng.integers(0, len(words), n)])
                    body = f'<text bytes="{len(text)}" xml:space="preserve">{escape(text)}</text>'
                page.append(
                    f"<revision>\n<id>{page_id * 1000 + seq}</id>\n"
                    f"<timestamp>{ts:%Y-%m-%dT%H:%M:%S}Z</timestamp>\n"
                    f"{body}\n</revision>\n"
                )
                if ns == "0" and ts >= EPOCH and ts.date() not in kept:
                    kept[ts.date()] = (ns, title, ts, text or "")
            page.append("</page>\n")
            chunk = "".join(page)
            parts.append(chunk)
            size += len(chunk)
            n_revisions += len(revs)
            truth.extend(kept.values())
        parts.append("</mediawiki>\n")
        payload = "".join(parts).encode()
        name = f"history{i + 1}.xml-p{i}.7z"
        shards.append((os.path.join(out, name), name[:-3], payload))
        files.append(name)
        xml_bytes += len(payload)
    # LZMA releases the GIL, so threads compress the shards in parallel.
    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(lambda shard: write_7z(*shard, codec="lzma2"), shards))
    return {
        "files": files,
        "xml_bytes": xml_bytes,
        "revisions": n_revisions,
        "snapshot_rows": len(truth),
        "snapshot_digest": snapshot_digest(truth),
    }


def snapshot_digest(rows) -> str:
    """Order-free digest of (namespace, title, timestamp, text) rows."""
    acc = 0
    for ns, title, ts, text in rows:
        key = f"{ns}\x1f{title}\x1f{ts:%Y-%m-%dT%H:%M:%S}\x1f{text}".encode()
        acc += int.from_bytes(hashlib.blake2b(key, digest_size=16).digest(), "big")
    return f"{acc % (1 << 128):032x}"
