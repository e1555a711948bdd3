"""Multi-scale probe for the dedup/ANN story (SCALE.md round 7).

Generates documents+embeddings sets at several multiples of sf0.1's size
(same distributional shape: vocab sampled FROM sf0.1, same lang weights,
src0..src19, constant ~1.6% near-dup + 0.16% exact-dup rates, seed 42),
then runs ``minhash_near_dups``, ``decontaminate_corpus`` and
``ivf_layout_topk_embeddings`` once per scale, recording wall time, total
shuffle read/write bytes (Spark REST stage-metric deltas) and output
rows.  The point is the SCALING CURVE: the banded LSH / prefix-join /
partition-pruned-IVF paths promise near-linear cost in corpus size (a
cross join would be quadratic), and a multi-point curve shows the slope,
not just one ratio.

Usage:  python tools/scaleprobe.py [scales]     e.g. 1,3,10,30
(default 1,10; scale 1 = sf0.1 itself, read from /root/testdata)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
PROBE_ROOT = os.path.join(REPO, ".scaleprobe")
BASE_DOCS = 5_000          # sf0.1's documents row count
BASE_EMB = 2_000           # sf0.1's embeddings row count
EMB_DIM = 64
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.41, 0.15, 0.15, 0.15, 0.14]   # sf0.1's observed mix


def generate(scale: int, seed: int = 42) -> str:
    """Write a ``scale``x documents+embeddings dir; returns its path."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(PROBE_ROOT, f"x{scale}")
    if os.path.exists(os.path.join(out, "embeddings.parquet")):
        return out
    os.makedirs(out, exist_ok=True)
    n_docs, n_emb = BASE_DOCS * scale, BASE_EMB * scale
    rng = np.random.default_rng(seed + scale)
    vocab = [r[0] for r in duckdb.sql(
        f"SELECT DISTINCT unnest(string_split_regex(trim(lower(text)), '\\s+')) "
        f"FROM '{SF01}/documents.parquet' ORDER BY 1").fetchall()]
    # Heaps' law: real corpora grow vocabulary ~ N^0.5, so the scaled sets
    # extend the base vocabulary by sqrt(scale) -- without this the fixed
    # 50-word vocab makes the corpus pathologically DENSE at large scale
    # (every gram's df grows linearly, every doc resembles every doc) and
    # the probe measures that artifact instead of the operators: the
    # first 100x run produced 11.6 GB of prefix-join shuffle and 4.2x
    # super-linear MinHash bucket volume purely from vocabulary satiation.
    n_extra = int(len(vocab) * (scale ** 0.5 - 1))
    vocab = np.array(vocab + [f"w{i}" for i in range(n_extra)])

    n_words = rng.integers(7, 97, size=n_docs)
    texts = [" ".join(rng.choice(vocab, size=k)) for k in n_words]
    # constant near-dup/exact-dup RATES across scales, so true-pair volume
    # grows linearly with the corpus -- the property the probe certifies
    n_near, n_exact = int(n_docs * 0.016), int(n_docs * 0.0016)
    dup_targets = rng.choice(n_docs, size=n_near + n_exact, replace=False)
    dup_sources = rng.integers(0, n_docs, size=n_near + n_exact)
    for i, (tgt, src) in enumerate(zip(dup_targets, dup_sources)):
        toks = texts[src].split()
        if i < n_exact or len(toks) < 12:
            texts[tgt] = texts[src]
            continue
        n_mut = max(1, int(len(toks) * rng.uniform(0.05, 0.10)))
        for j in rng.choice(len(toks), size=n_mut, replace=False):
            toks[j] = str(rng.choice(vocab))
        texts[tgt] = " ".join(toks)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_W)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    # MANY row groups, not pyarrow's 1M-row default: Spark parallelizes a
    # parquet scan by file splits, and a row group is indivisible -- a
    # single-row-group file serializes the whole scan (and everything
    # Catalyst collapses into the scan stage) onto ONE task regardless of
    # cluster width.  Found at x300: the 1M-row first group put 177 s of
    # signature CPU on one straggler.  Real 100 TB layouts are thousands
    # of files x ~128 MB row groups; 25k-row groups model that here.
    pq.write_table(docs, os.path.join(out, "documents.parquet"),
                   row_group_size=25_000)

    centers = rng.normal(0, 1, size=(10, EMB_DIM))
    labels = rng.integers(0, 10, size=n_emb)
    vecs = (centers[labels] + rng.normal(0, 0.35, size=(n_emb, EMB_DIM))
            ).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_emb), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"),
                   row_group_size=10_000)
    print(f"# generated x{scale}: {n_docs} docs / {n_emb} embeddings", file=sys.stderr)
    return out


def generate_fixed_vocab(scale: int, seed: int = 42) -> str:
    """The ADVERSARIAL corpus: same generator as :func:`generate` but
    WITHOUT the Heaps-law vocabulary extension -- the satiated shape that
    made the first x100 run super-linear (SCALE.md round 7/8).  Kept as a
    negative-control fixture: ``audit_band_skew`` must fire on this and
    stay quiet on the Heaps corpus."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(PROBE_ROOT, f"x{scale}_fixedvocab")
    if os.path.exists(os.path.join(out, "documents.parquet")):
        return out
    os.makedirs(out, exist_ok=True)
    n_docs = BASE_DOCS * scale
    rng = np.random.default_rng(seed + scale)
    vocab = np.array([r[0] for r in duckdb.sql(
        f"SELECT DISTINCT unnest(string_split_regex(trim(lower(text)), '\\s+')) "
        f"FROM '{SF01}/documents.parquet' ORDER BY 1").fetchall()])
    n_words = rng.integers(7, 97, size=n_docs)
    texts = [" ".join(rng.choice(vocab, size=k)) for k in n_words]
    n_near, n_exact = int(n_docs * 0.016), int(n_docs * 0.0016)
    dup_targets = rng.choice(n_docs, size=n_near + n_exact, replace=False)
    dup_sources = rng.integers(0, n_docs, size=n_near + n_exact)
    for i, (tgt, src) in enumerate(zip(dup_targets, dup_sources)):
        toks = texts[src].split()
        if i < n_exact or len(toks) < 12:
            texts[tgt] = texts[src]
            continue
        n_mut = max(1, int(len(toks) * rng.uniform(0.05, 0.10)))
        for j in rng.choice(len(toks), size=n_mut, replace=False):
            toks[j] = str(rng.choice(vocab))
        texts[tgt] = " ".join(toks)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_W)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"),
                   row_group_size=25_000)
    print(f"# generated x{scale} fixed-vocab: {n_docs} docs", file=sys.stderr)
    return out


def generate_boilerplate(scale: int, seed: int = 42,
                         dup_frac: float = 0.10, n_templates: int = 20) -> str:
    """The corpus shape that actually densifies BANDING: ``dup_frac`` of
    the documents are verbatim copies of ``n_templates`` boilerplate
    texts (crawl reality: error pages, headers, licence blocks).  Exact
    copies share every band bucket, so each template forms a bucket of
    ~dup_frac*n_docs/n_templates in ALL bands -- quadratic pair mass the
    band join would pay.  (The fixed-vocab corpus, by contrast, satiates
    the PREFIX join's gram-df, not banding: random fixed-vocab docs
    almost never agree on 8 consecutive minhash slots -- measured x100
    max bucket 3, same as Heaps.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(PROBE_ROOT, f"x{scale}_boilerplate")
    if os.path.exists(os.path.join(out, "documents.parquet")):
        return out
    os.makedirs(out, exist_ok=True)
    base = generate(scale, seed=seed)          # start from the Heaps corpus
    tab = pq.read_table(os.path.join(base, "documents.parquet"))
    texts = tab.column("text").to_pylist()
    n_docs = len(texts)
    rng = np.random.default_rng(seed + scale + 1)
    templates = [texts[i] for i in
                 rng.choice(n_docs, size=n_templates, replace=False)]
    hits = rng.choice(n_docs, size=int(n_docs * dup_frac), replace=False)
    for i in hits:
        texts[i] = templates[int(rng.integers(0, n_templates))]
    tab = tab.set_column(tab.schema.get_field_index("text"), "text",
                         pa.array(texts, type=pa.string()))
    tab = tab.set_column(
        tab.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(t) for t in texts], type=pa.int64()))
    pq.write_table(tab, os.path.join(out, "documents.parquet"),
                   row_group_size=25_000)
    print(f"# generated x{scale} boilerplate: {n_docs} docs, "
          f"{len(hits)} template copies", file=sys.stderr)
    return out


def _probe_bandskew(spark, ui, scale: int = 100) -> None:
    """Banding-densification pre-flight: ``dedup.audit_band_skew`` on the
    Heaps corpus (healthy -- must stay quiet), the fixed-vocab corpus
    (prefix-join-adversarial -- banding still quiet: the negative result
    worth recording), and the boilerplate corpus (banding-adversarial --
    must fire).  The audit is the metadata-sized check a rollout runs
    BEFORE paying the band join."""
    from dask_patternsearch_spark.operators import dedup

    print(f"| corpus (x{scale}) | sec | max_bucket | pair_mass "
          "| hot_mass_share | top bucket sizes (band 0) |")
    print("|---|---|---|---|---|---|")
    for name, d in (("heaps", generate(scale)),
                    ("fixed-vocab", generate_fixed_vocab(scale)),
                    ("boilerplate", generate_boilerplate(scale))):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        t0 = time.perf_counter()
        rows = dedup.audit_band_skew(dedup.minhash_signatures(docs)).collect()
        dt = time.perf_counter() - t0
        max_bucket = max(r["max_bucket"] for r in rows)
        pair_mass = sum(r["pair_mass"] for r in rows)
        hot_mass = sum(r["hot_pair_mass"] for r in rows)
        share = round(hot_mass / pair_mass, 4) if pair_mass else 0.0
        top0 = [t["size"] for t in rows[0]["top_buckets"]]
        print(f"| {name} | {dt:.1f} | {max_bucket} | {pair_mass} "
              f"| {share} | {top0} |")


def _shuffle_totals(ui: str) -> tuple[int, int]:
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"))
    return (sum(s.get("shuffleReadBytes", 0) for s in stages),
            sum(s.get("shuffleWriteBytes", 0) for s in stages))


def _input_totals(ui: str) -> int:
    """Total bytes READ from storage across completed stages -- the
    scan-volume counterpart of _shuffle_totals (a partition-pruned probe
    shows up here, not in shuffle bytes)."""
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"))
    return sum(s.get("inputBytes", 0) for s in stages)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _build_session(app_name: str, master: str = "local[32]"):
    """One session posture for EVERY probe mode (headline curve and the
    extra modes alike), so all SCALE.md numbers are measured under the
    same shuffle/AQE configuration.  ``master`` is overridable for the
    one probe (--worker-bloom) whose metric is per-worker-process cache
    behavior, not timings: local[1] makes the warmup deterministic."""
    from pyspark.sql import SparkSession

    from dask_patternsearch_spark.session import WORKER_DAEMON_MODULE

    spark = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.default.parallelism", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "32")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.cleaner.periodicGC.interval", "60s")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4090")
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    scales = [int(x) for x in (sys.argv[1] if len(sys.argv) > 1 else "1,10").split(",")]
    dirs = {s: (SF01 if s == 1 else generate(s)) for s in scales}

    from pyspark.sql import SparkSession

    from dask_patternsearch_spark.queries import all_queries

    spark = _build_session("scaleprobe")
    ui = spark.sparkContext.uiWebUrl
    qs = all_queries()
    targets = ["minhash_near_dups", "decontaminate_corpus",
               "ivf_layout_topk_embeddings"]

    for name in targets:  # warm-up at the smallest scale
        qs[name](spark, dirs[scales[0]]).count()

    results: dict[str, dict[int, dict]] = {}
    for s in scales:
        for name in targets:
            r0, w0 = _shuffle_totals(ui)
            t0 = time.perf_counter()
            rows = qs[name](spark, dirs[s]).count()
            dt = time.perf_counter() - t0
            r1, w1 = _shuffle_totals(ui)
            results.setdefault(name, {})[s] = {
                "sec": round(dt, 2), "rows": rows,
                "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
            }
            print(f"# {name}@x{s}: {dt:.2f}s rows={rows} "
                  f"shufW={(w1 - w0)/1e6:.1f}MB", file=sys.stderr)

    head = " | ".join(f"x{s}" for s in scales)
    print(f"| query | metric | {head} |")
    print("|---|---|" + "---|" * len(scales))
    for name in targets:
        for metric in ["sec", "rows", "shuffle_write_mb"]:
            cells = " | ".join(str(results[name][s][metric]) for s in scales)
            print(f"| {name} | {metric} | {cells} |")
    print(json.dumps(results))
    spark.stop()


def generate_events(scale: int, seed: int = 7) -> str:
    """Events table at ``scale``x sf0.1 (100k rows, 1.5k users, 30 days):
    users scale with the corpus, per-user event counts stay constant, so
    session count -- the session-window operator's state -- grows
    linearly.  Same row-group discipline as ``generate``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(PROBE_ROOT, f"ev_x{scale}")
    if os.path.exists(os.path.join(out, "events.parquet")):
        return out
    os.makedirs(out, exist_ok=True)
    n_ev, n_users = 100_000 * scale, 1_500 * scale
    rng = np.random.default_rng(seed + scale)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + (rng.uniform(0, 30 * 86400, size=n_ev) * 1e6).astype("int64")
    order = np.argsort(ts)
    tab = pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": pa.array(ts[order], type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n_ev), type=pa.int64()),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "search", "scroll"], size=n_ev)),
        "value": pa.array(np.round(rng.uniform(0, 100, size=n_ev), 6)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]),
    })
    pq.write_table(tab, os.path.join(out, "events.parquet"),
                   row_group_size=50_000)
    print(f"# generated ev_x{scale}: {n_ev} events / {n_users} users",
          file=sys.stderr)
    return out


def _probe_session(spark, ui, qs) -> None:
    """Window-heavy state scaling: session_window_batch at x1 / x3 / x10.
    State = live sessions; with constant per-user rates it must grow
    linearly, and the wall with it (one shuffle on the grouping)."""
    print("| query | metric | x1 | x3 | x10 |")
    print("|---|---|---|---|---|")
    cells: dict[str, list] = {"sec": [], "rows": [], "shufW MB": []}
    for s in (1, 3, 10):
        d = SF01 if s == 1 else generate_events(s)
        qs["session_window_batch"](spark, d).count()     # warm
        r0, w0 = _shuffle_totals(ui)
        t0 = time.perf_counter()
        rows = qs["session_window_batch"](spark, d).count()
        dt = time.perf_counter() - t0
        _, w1 = _shuffle_totals(ui)
        cells["sec"].append(round(dt, 2))
        cells["rows"].append(rows)
        cells["shufW MB"].append(round((w1 - w0) / 1e6, 1))
    for m, vs in cells.items():
        print(f"| session_window_batch | {m} | " +
              " | ".join(str(v) for v in vs) + " |")


def _probe_iterative(spark, ui, qs, scales=(1, 3, 10)) -> None:
    """Iterative-graph scaling: near_dup_pagerank (8 damped iterations
    over the prefix-join near-dup graph) across ``scales`` -- wall,
    total shuffle, and shuffle per iteration.  Rounds are fixed (8), so
    shuffle/iter ∝ edges is the claim under test at every decade."""
    head = " | ".join(f"x{s}" for s in scales)
    print(f"| query | metric | {head} |")
    print("|---|---|" + "---|" * len(scales))
    cells: dict[str, list] = {"sec": [], "rows": [], "shufW MB": [],
                              "shufW/iter MB": []}
    for s in scales:
        d = SF01 if s == 1 else generate(s)
        qs["near_dup_pagerank"](spark, d).count()        # warm
        r0, w0 = _shuffle_totals(ui)
        t0 = time.perf_counter()
        rows = qs["near_dup_pagerank"](spark, d).count()
        dt = time.perf_counter() - t0
        _, w1 = _shuffle_totals(ui)
        cells["sec"].append(round(dt, 2))
        cells["rows"].append(rows)
        cells["shufW MB"].append(round((w1 - w0) / 1e6, 1))
        cells["shufW/iter MB"].append(round((w1 - w0) / 8 / 1e6, 2))
    for m, vs in cells.items():
        print(f"| near_dup_pagerank | {m} | " +
              " | ".join(str(v) for v in vs) + " |")


def _probe_incremental(spark, ui) -> None:
    """Incremental-dedup production shape: a FIXED 15k-doc ingest batch
    against persisted signature tables of growing corpora (x10 / x30 /
    x100).  Cost must track the batch, not the corpus; band parity vs a
    fresh full compute is asserted at every point."""
    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators import dedup

    batch = (spark.read.parquet(os.path.join(generate(3), "documents.parquet"))
             .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
             .localCheckpoint(eager=True))
    print("| corpus | metric | value |")
    print("|---|---|---|")
    for s in (10, 30, 100):
        corpus = spark.read.parquet(
            os.path.join(generate(s), "documents.parquet"))
        sig_path = os.path.join(PROBE_ROOT, f"sigs_x{s}.parquet")
        t0 = time.perf_counter()
        dedup.minhash_signatures(corpus).withColumn(
            "hash_family", F.lit(dedup.HASH_FAMILY_VERSIONS["md5"])
        ).write.mode("overwrite").parquet(sig_path)
        # band-bucket sidecar = the production layout (persist_signatures
        # writes it at init; the one-time build is part of the sign cost)
        dedup.rebuild_band_sidecar(spark, sig_path)
        sign_dt = time.perf_counter() - t0
        # measured run (append=False keeps the table reusable across runs)
        inc = dedup.incremental_minhash_candidates(batch, sig_path,
                                                   append=False)
        inc.count()                                       # warm
        r0, w0 = _shuffle_totals(ui)
        t0 = time.perf_counter()
        got = {(r["doc_a"], r["doc_b"], r["est_jaccard"])
               for r in dedup.incremental_minhash_candidates(
                   batch, sig_path, append=False).collect()}
        dt = time.perf_counter() - t0
        _, w1 = _shuffle_totals(ui)
        # parity: fresh full compute restricted to batch pairs
        full = {(r["doc_a"], r["doc_b"], r["est_jaccard"])
                for r in dedup.minhash_lsh_candidates(
                    corpus.unionByName(batch)).collect()
                if r["doc_a"] >= 10_000_000 or r["doc_b"] >= 10_000_000}
        assert got == full, (
            f"x{s}: incremental != full restriction "
            f"({len(got - full)} extra, {len(full - got)} missing)")
        print(f"| x{s} ({5000*s} docs) | sign corpus once | {sign_dt:.1f}s |")
        print(f"| x{s} ({5000*s} docs) | incremental 15k batch | "
              f"{dt:.2f}s / {(w1-w0)/1e6:.1f}MB shufW / "
              f"{len(got)} pairs / parity OK |")


def _probe_ingest(spark, ui) -> None:
    """End-to-end ingest-loop production shape: ``init_dedup_state`` once
    per corpus scale (x10 / x30 / x100), then a FIXED 15k-doc
    ``ingest_batch`` call (all three legs + delta appends).  Claims under
    test: per-call shuffle tracks the batch, not the corpus, and the
    delta logs grow by ∝ batch + touched clusters, never a corpus
    rewrite."""
    import shutil

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators import dedup

    batch = (spark.read.parquet(os.path.join(generate(3), "documents.parquet"))
             .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
             .localCheckpoint(eager=True))
    n_batch = batch.count()
    print("| corpus | metric | value |")
    print("|---|---|---|")
    for s in (10, 30, 100):
        corpus = spark.read.parquet(
            os.path.join(generate(s), "documents.parquet"))
        state = os.path.join(PROBE_ROOT, f"ingest_state_x{s}")
        shutil.rmtree(state, ignore_errors=True)
        t0 = time.perf_counter()
        dedup.init_dedup_state(corpus, state)
        init_dt = time.perf_counter() - t0
        lab0 = spark.read.parquet(f"{state}/labels_delta.parquet").count()
        keep0 = spark.read.parquet(f"{state}/keepers_delta.parquet").count()
        r0, w0 = _shuffle_totals(ui)
        t0 = time.perf_counter()
        n_cands = dedup.ingest_batch(batch, state).count()
        dt = time.perf_counter() - t0
        _, w1 = _shuffle_totals(ui)
        lab1 = spark.read.parquet(f"{state}/labels_delta.parquet").count()
        keep1 = spark.read.parquet(f"{state}/keepers_delta.parquet").count()
        print(f"| x{s} ({5000*s} docs) | init state once | {init_dt:.1f}s |")
        print(f"| x{s} ({5000*s} docs) | ingest {n_batch} batch | "
              f"{dt:.2f}s / {(w1-w0)/1e6:.1f}MB shufW / {n_cands} cands / "
              f"+{lab1-lab0} label rows / +{keep1-keep0} keeper rows |")
        shutil.rmtree(state, ignore_errors=True)


def _probe_compaction(spark, ui, scale: int = 30, n_batches: int = 6,
                      corpus: str = "heaps") -> None:
    """LSM read-amplification curve: after each of ``n_batches``
    sequential 3k-doc ingests, time a full state resolution
    (``load_cluster_state`` + count of both views), record the delta
    logs' row counts AND the keeper-log/resolved gap ratio that
    ``maybe_compact_dedup_state`` gates on; then compact and measure
    again.  Claims under test: resolution cost grows with the number of
    delta generations and compaction resets it (tombstones vanish, one
    generation remains) with resolution-identical views; on the
    ``boilerplate`` corpus (a STATE-REVISING feed -- every batch carries
    copies of the same templates, so ingests keep merging and re-picking
    existing clusters) the gap ratio climbs and the trigger fires at its
    default 2.0 gate, while the mostly-new heaps feed stays near 1 and
    is correctly skipped."""
    import shutil

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators import dedup

    d = generate_boilerplate(scale) if corpus == "boilerplate" \
        else generate(scale)
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    state = os.path.join(PROBE_ROOT, f"compact_state_{corpus}_x{scale}")
    shutil.rmtree(state, ignore_errors=True)
    dedup.init_dedup_state(docs.filter(F.col("doc_id") % 2 == 0), state)

    def resolve_time() -> tuple[float, int, int]:
        t0 = time.perf_counter()
        labels, keepers = dedup.load_cluster_state(spark, state)
        nl, nk = labels.count(), keepers.count()
        return time.perf_counter() - t0, nl, nk

    print(f"| point ({corpus}) | resolve sec | label-log rows "
          "| keeper-log rows | resolved labels | resolved keepers "
          "| label gap | keeper gap | trigger@2.0 |")
    print("|---|---|---|---|---|---|---|---|---|")

    def log_sizes() -> tuple[int, int]:
        return (spark.read.parquet(f"{state}/labels_delta.parquet").count(),
                spark.read.parquet(f"{state}/keepers_delta.parquet").count())

    def report(point: str) -> None:
        dt, nl, nk = resolve_time()
        ll, kl = log_sizes()
        lgap = ll / nl if nl else float("inf")
        kgap = kl / nk if nk else float("inf")
        fire = "FIRES" if max(lgap, kgap) >= 2.0 else "-"
        print(f"| {point} | {dt:.2f} | {ll} | {kl} | {nl} | {nk} "
              f"| {lgap:.2f} | {kgap:.2f} | {fire} |")

    report("after init")
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    for b in range(n_batches):
        batch = odd.filter(
            (F.col("doc_id") / 2).cast("long") % n_batches == b)
        dedup.ingest_batch(batch, state)
        report(f"after batch {b + 1}")
    pre_labels, pre_keepers = dedup.load_cluster_state(spark, state)
    pre = (sorted(tuple(r) for r in pre_labels.collect()),
           sorted(tuple(r) for r in pre_keepers.collect()))
    # the trigger path itself (not a forced compaction): fires iff the
    # gap crossed the documented 2.0 gate
    stats = dedup.maybe_compact_dedup_state(
        spark, state, gap_ratio=2.0, min_log_rows=1)
    if stats is None:
        print("# maybe_compact: gap below gate (skipped) -- forcing for "
              "the reset curve", file=sys.stderr)
        stats = dedup.compact_dedup_state(spark, state)
    report("after compaction")
    post_labels, post_keepers = dedup.load_cluster_state(spark, state)
    assert (sorted(tuple(r) for r in post_labels.collect()),
            sorted(tuple(r) for r in post_keepers.collect())) == pre, \
        "compaction changed resolution"
    print(f"# compaction stats: {stats}", file=sys.stderr)
    shutil.rmtree(state, ignore_errors=True)


def _probe_cdc(spark, ui) -> None:
    """Span-dedup production shape: one-shot ``cdc_span_dedup`` per corpus
    scale (linear-curve check), then ``init_cdc_state`` + a FIXED 15k-doc
    ``ingest_cdc_batch`` against each corpus size.  Claims under test:
    the one-shot pass scales ~linearly in corpus tokens; the per-batch
    ingest cost and shuffle track the BATCH (the ledger streams through
    broadcast probes without shuffling); ledger growth is exactly the
    batch's novel chunk count."""
    import shutil

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators import dedup

    batch = (spark.read.parquet(os.path.join(generate(3), "documents.parquet"))
             .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
             .localCheckpoint(eager=True))
    n_batch = batch.count()
    dedup.cdc_span_dedup(
        spark.read.parquet(os.path.join(generate(10), "documents.parquet"))
    ).count()  # warm-up
    print("| corpus | metric | value |")
    print("|---|---|---|")
    for s in (10, 30, 100):
        corpus = spark.read.parquet(
            os.path.join(generate(s), "documents.parquet"))
        r0, w0 = _shuffle_totals(ui)
        t0 = time.perf_counter()
        n_rows = dedup.cdc_span_dedup(corpus).count()
        dt = time.perf_counter() - t0
        _, w1 = _shuffle_totals(ui)
        print(f"| x{s} ({5000*s} docs) | one-shot cdc_span_dedup | "
              f"{dt:.2f}s / {(w1-w0)/1e6:.1f}MB shufW / {n_rows} rows |")
        state = os.path.join(PROBE_ROOT, f"cdc_state_x{s}")
        shutil.rmtree(state, ignore_errors=True)
        t0 = time.perf_counter()
        dedup.init_cdc_state(corpus, state).count()
        init_dt = time.perf_counter() - t0
        led0 = spark.read.parquet(dedup._cdc_ledger_path(state)).count()
        led_disk = _dir_bytes(dedup._cdc_ledger_path(state))
        r0, w0 = _shuffle_totals(ui)
        in0 = _input_totals(ui)
        t0 = time.perf_counter()
        dedup.ingest_cdc_batch(batch, state).count()
        dt = time.perf_counter() - t0
        _, w1 = _shuffle_totals(ui)
        in1 = _input_totals(ui)
        led1 = spark.read.parquet(dedup._cdc_ledger_path(state)).count()
        print(f"| x{s} ({5000*s} docs) | init_cdc_state once | {init_dt:.1f}s "
              f"/ {led0} ledger rows |")
        # inMB vs the flat-scan line (= ledger bytes on disk): the v2
        # bucketed probe reads only bloom rows + candidate-prefix
        # partitions, so inMB should sit far below ledgerMB and grow
        # with the BATCH's duplicate mass, not the corpus
        print(f"| x{s} ({5000*s} docs) | ingest {n_batch} batch | "
              f"{dt:.2f}s / {(w1-w0)/1e6:.1f}MB shufW / "
              f"{(in1-in0)/1e6:.1f}MB in (flat-scan line "
              f"{led_disk/1e6:.1f}MB) / +{led1-led0} ledger rows |")
        shutil.rmtree(state, ignore_errors=True)


def _probe_spans(spark, ui) -> None:
    """Span-family scale (round-11): ``decontaminate_spans`` with a FIXED
    benchmark set against growing corpora, and ``leakage_guarded_split``
    between each corpus' own splits, across x10/x30/x100.  Claims under
    test: the benchmark chunk-hash set broadcasts (corpus never shuffles
    before the reassembly groupBy), and the split audit's gram semi-join
    stays ∝ corpus tokens -- no pair explosion (the quadratic failure
    mode would show as super-linear shuffle write on the gram join)."""
    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators import dedup

    bench = (
        spark.read.parquet(os.path.join(SF01, "documents.parquet"))
        .select("doc_id", "text").limit(200).localCheckpoint(eager=True)
    )
    n_bench = bench.count()
    # warm-up so JVM/codegen compilation is off the first measured row
    dedup.decontaminate_spans(
        spark.read.parquet(os.path.join(generate(3), "documents.parquet")),
        bench,
    ).count()
    print("| corpus | metric | value |")
    print("|---|---|---|")
    for s in (10, 30, 100):
        corpus = spark.read.parquet(
            os.path.join(generate(s), "documents.parquet"))
        _r0, w0 = _shuffle_totals(ui)
        t0 = time.perf_counter()
        out = dedup.decontaminate_spans(corpus, bench)
        n_cut = out.filter(F.col("n_kept") < F.col("n_chunks")).count()
        dt = time.perf_counter() - t0
        _, w1 = _shuffle_totals(ui)
        print(f"| x{s} ({5000*s} docs) | decontaminate_spans "
              f"({n_bench}-doc benchmark) | {dt:.2f}s / "
              f"{(w1-w0)/1e6:.1f}MB shufW / {n_cut} docs cut |")
        _r0, w0 = _shuffle_totals(ui)
        t0 = time.perf_counter()
        rep = dedup.leakage_guarded_split(corpus).collect()
        dt = time.perf_counter() - t0
        _, w1 = _shuffle_totals(ui)
        leak = sum(r["n_leaky_train"] for r in rep)
        train = sum(r["n_train"] for r in rep)
        print(f"| x{s} ({5000*s} docs) | leakage_guarded_split | "
              f"{dt:.2f}s / {(w1-w0)/1e6:.1f}MB shufW / "
              f"{leak}/{train} leaky train docs |")


def _probe_bands_sidecar(spark, ui) -> None:
    """Round-12 evidence for the bloom-gated band sidecar: the
    corpus-side band-row read of a FIXED incremental batch (15k novel
    docs + 100 corpus duplicates -- a realistic near-dup rate), measured
    as storage bytes against sidecars built from x10/x30/x100 corpora.
    Claims under test: the bloom drops the batch's ~120k novel keys
    down to ~collisions + tuned false positives, the surviving keys'
    pushed bk-IN filter plus partition pruning keeps the row decode
    ∝ collisions (the flat-scan line = sidecar bytes on disk = what the
    round-11 flat layout read per batch), and the gated read is
    LOSSLESS -- the (band, bucket)-joined row set equals the full-scan
    restriction at every scale."""
    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators import dedup

    novel = (spark.read.parquet(os.path.join(generate(3),
                                             "documents.parquet"))
             .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
             .localCheckpoint(eager=True))
    print("| corpus | metric | value |")
    print("|---|---|---|")
    for s in (10, 30, 100):
        corpus = spark.read.parquet(
            os.path.join(generate(s), "documents.parquet"))
        # fixed duplicate mass: 100 corpus docs re-id'd into the batch
        batch = novel.unionByName(
            corpus.filter(F.col("doc_id") < 100)
            .withColumn("doc_id", F.col("doc_id") + F.lit(20_000_000))
        ).localCheckpoint(eager=True)
        new_buckets = (
            dedup._band_buckets(dedup.minhash_signatures(batch), 8, 8)
            .select("band", "bucket").distinct()
            .localCheckpoint(eager=True))
        n_keys = new_buckets.count()
        sig_path = os.path.join(PROBE_ROOT, f"bsig_x{s}.parquet")
        dedup.minhash_signatures(corpus).withColumn(
            "hash_family", F.lit(dedup.HASH_FAMILY_VERSIONS["md5"])
        ).write.mode("overwrite").parquet(sig_path)
        dedup.rebuild_band_sidecar(spark, sig_path)
        sidecar = dedup._bands_sidecar_path(sig_path)
        width = dedup._layout_pfx_len(sidecar, key="bpfx")
        flat_line = _dir_bytes(sidecar)
        bloom_bytes = _dir_bytes(dedup._bands_bloom_dir(sig_path))
        # how many keys the bloom lets through (collisions + fp)
        n_surv = dedup._bloom_filter_keys(
            spark, dedup._bands_bloom_dir(sig_path),
            new_buckets.withColumn("bkey", dedup._bands_key_expr()),
            width, "bkey").count()
        probe = lambda: (
            dedup._read_band_sidecar(spark, sig_path, new_buckets)
            .join(F.broadcast(new_buckets), ["band", "bucket"])
        )
        probe().count()  # warm (file listing, codegen)
        in0 = _input_totals(ui)
        t0 = time.perf_counter()
        n_hit = probe().count()
        dt = time.perf_counter() - t0
        in1 = _input_totals(ui)
        # parity: the gated read is lossless vs the full-scan restriction
        full = (spark.read.parquet(sidecar).drop("bpfx", "bk")
                .join(F.broadcast(new_buckets), ["band", "bucket"]))
        got = {tuple(r) for r in probe().collect()}
        want = {tuple(r) for r in full.collect()}
        assert got == want, f"x{s}: gated read != full-scan restriction"
        print(f"| x{s} ({5000*s} docs) | band probe (width {width}, "
              f"{n_keys} batch keys -> {n_surv} bloom survivors) | "
              f"{dt:.2f}s / {(in1-in0)/1e6:.1f}MB in (flat-scan line "
              f"{flat_line/1e6:.1f}MB + bloom {bloom_bytes/1e6:.1f}MB) / "
              f"{n_hit} hit rows / parity OK |")


def _probe_cdc_rebucket(spark, ui) -> None:
    """Round-12 evidence that a compaction-driven RE-BUCKET keeps the CDC
    probe flat across a prefix-tier boundary.  The real boundary sits at
    2M chunks; to cross it at probe scale the tier table is scaled down
    (documented knob: same code path, smaller constant), then a grown
    corpus triggers maybe_compact_cdc_state's `rebucket` and a FIXED
    batch is re-ingested on the wider layout.  Claims under test: the
    trigger fires exactly at the boundary, the layout widens, and the
    fixed batch's ledger read volume stays flat while the flat-scan
    line grows with the corpus."""
    import shutil

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators import dedup

    orig = dedup._pick_pfx_len
    # scaled tiers: boundary at 400k chunks instead of 2M (the comparison
    # of interest is probe cost across the SAME boundary-crossing event,
    # not the absolute constant; the x10 corpus is ~344k chunks after the
    # fixed batch -- below the boundary -- and the x30 growth crosses it)
    dedup._pick_pfx_len = lambda n: 1 if n < 400_000 else 2
    try:
        batch = (
            spark.read.parquet(os.path.join(generate(3),
                                            "documents.parquet"))
            .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
            .localCheckpoint(eager=True))
        state = os.path.join(PROBE_ROOT, "rebucket_state")
        shutil.rmtree(state, ignore_errors=True)
        print("| point | metric | value |")
        print("|---|---|---|")
        dedup.init_cdc_state(
            spark.read.parquet(os.path.join(generate(10),
                                            "documents.parquet")), state)
        path = dedup._cdc_ledger_path(state)

        def ingest_probe(label: str) -> None:
            in0 = _input_totals(ui)
            t0 = time.perf_counter()
            dedup.ingest_cdc_batch(batch, state).count()
            dt = time.perf_counter() - t0
            in1 = _input_totals(ui)
            print(f"| {label} (width {dedup._cdc_pfx_len(state)}) | "
                  f"ingest 15k batch | {dt:.2f}s / "
                  f"{(in1-in0)/1e6:.1f}MB in (flat-scan line "
                  f"{_dir_bytes(path)/1e6:.1f}MB) |")

        ingest_probe("below boundary, x10 corpus")
        assert dedup.maybe_compact_cdc_state(spark, state) is None
        # grow the corpus past the scaled boundary (x30 ~ 180k chunks)
        grow = (spark.read.parquet(os.path.join(generate(30),
                                                "documents.parquet"))
                .withColumn("doc_id", F.col("doc_id") + F.lit(20_000_000)))
        dedup.ingest_cdc_batch(grow, state).count()
        stats = dedup.maybe_compact_cdc_state(spark, state)
        assert stats is not None and stats["trigger"] == "rebucket", stats
        print(f"| boundary crossed | maybe_compact_cdc_state | "
              f"trigger={stats['trigger']} rows={stats['rows_after']} |")
        # retry-idempotence note: the fixed batch is already committed, so
        # re-ingesting probes the WIDER layout for the same duplicates --
        # exactly the per-batch probe cost after a re-bucket
        ingest_probe("above boundary, x10+x30 corpus")
        shutil.rmtree(state, ignore_errors=True)
    finally:
        dedup._pick_pfx_len = orig


def _probe_stream_ledger(spark, ui) -> None:
    """Round-13 evidence for the streaming near-dup ledger (round-12
    verdict #3): drain a mostly-novel document feed ONE micro-batch at a
    time through neardup_filter_stream and measure, per batch, the
    executor-side storage bytes (docs + pruned ledger scan), the
    driver-resident bloom bytes physically re-read (round-13 residency:
    ~delta-only on an unchanged dir, full reload right after a geometric
    rebuild swap), and the kept-ledger flat-scan line (= what a
    per-batch full-ledger distinct() read before round 12).  Claims
    under test: per-batch bytes stay ~flat while the ledger grows ~10x,
    steady-state bloom re-reads are ~0 after first contact, and the
    geometric rebuild's full-ledger pass lands on (log2 n) batches
    only."""
    import json as _json
    import shutil

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators import dedup
    from dask_patternsearch_spark.streaming import dedup as sdedup

    docs = spark.read.parquet(
        os.path.join(generate(10), "documents.parquet"))
    base = os.path.join(PROBE_ROOT, "streamledger")
    shutil.rmtree(base, ignore_errors=True)
    docs_dir = os.path.join(base, "docs")
    os.makedirs(docs_dir)
    bands = os.path.join(base, "bands")
    kept = os.path.join(base, "kept")
    ckpt = os.path.join(base, "ckpt")
    bloom_reads = {"bytes": 0}
    orig_read = dedup._bloom_read_rows

    def counting_read(fpath):
        bloom_reads["bytes"] += os.path.getsize(fpath)
        return orig_read(fpath)

    dedup._bloom_read_rows = counting_read
    n_batches = 10
    print("| batch | drain sec | storage in MB | bloom re-read MB | "
          "ledger (flat line) MB | rebuild? |")
    print("|---|---|---|---|---|---|")
    try:
        for b in range(n_batches):
            (docs.filter((F.col("doc_id") % n_batches) == b)
             .toPandas().to_parquet(
                 os.path.join(docs_dir, f"b{b:02d}.parquet")))
            meta = bands + ".bloom.meta.json"
            last_rebuild = 0
            if os.path.exists(meta):
                with open(meta) as fh:
                    last_rebuild = _json.load(fh).get("rows_at_rebuild", 0)
            bloom_reads["bytes"] = 0
            in0 = _input_totals(ui)
            t0 = time.perf_counter()
            sdedup.neardup_filter_stream(
                sdedup.read_docs_stream(spark, docs_dir),
                bands_path=bands, kept_path=kept, checkpoint_path=ckpt)
            dt = time.perf_counter() - t0
            in1 = _input_totals(ui)
            with open(meta) as fh:
                now_rebuild = _json.load(fh).get("rows_at_rebuild", 0)
            print(f"| {b} | {dt:.2f} | {(in1-in0)/1e6:.1f} | "
                  f"{bloom_reads['bytes']/1e6:.3f} | "
                  f"{_dir_bytes(bands)/1e6:.1f} | "
                  f"{'YES' if now_rebuild != last_rebuild else ''} |")
        n_kept = spark.read.parquet(kept).count()
        n_led = spark.read.parquet(bands).select("doc_id").distinct().count()
        print(f"# drained: {n_kept} kept docs, {n_led} ledgered docs")
        assert n_kept == n_led
    finally:
        dedup._bloom_read_rows = orig_read


def _probe_worker_bloom(spark, ui) -> None:
    """Round-13 evidence for EXECUTOR-side bloom residency (the
    over-budget fallback's worker-process file cache): force the
    worker-grouped probe path (driver residency monkeypatched off) and
    measure, per probe batch, the bloom bytes PHYSICALLY read inside
    the python workers (spooled per pid via SPARK_GRAFT_BLOOM_SPOOL,
    set by the dispatcher before the session -- workers inherit it).
    Claims under test: an unchanged sidecar re-reads ZERO bytes after
    first contact (worker reuse keeps the LRU warm across jobs), an
    append re-reads only its delta files, and a rebuild (every path
    changes) reloads the bits exactly once.  Runs at local[1] so task ->
    worker assignment is deterministic; at local[N] the same steady
    state arrives asymptotically as each worker's coverage warms (the
    metric is physical bytes, not timings, so the posture deviation
    does not touch any timing claim in this file)."""
    import shutil

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators import dedup

    spool = os.environ["SPARK_GRAFT_BLOOM_SPOOL"]

    def spooled() -> int:
        total = 0
        for f in os.listdir(spool):
            with open(os.path.join(spool, f)) as fh:
                total += sum(int(x) for x in fh.read().split())
        return total

    base = os.path.join(PROBE_ROOT, "workerbloom")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    bdir = os.path.join(base, "bloom")

    def keys(lo: int, hi: int):
        return spark.range(lo, hi).select(
            F.md5(F.col("id").cast("string")).alias("k"))

    dedup._bloom_rows(keys(0, 120_000), 2, col="k").write.mode(
        "append").partitionBy("pfx").parquet(bdir)
    sidecar_mb = _dir_bytes(bdir) / 1e6
    dedup._bloom_resident_bits = lambda b: None  # force the worker path
    print(f"# sidecar: {sidecar_mb:.2f} MB on disk, "
          f"{len(dedup._bloom_list_files(bdir))} files, pfx width 2")
    print("| probe batch | worker bloom read MB | event |")
    print("|---|---|---|")
    ncores = spark.sparkContext.defaultParallelism
    n_unchanged = 3 if ncores == 1 else 11  # N>1 warms asymptotically
    batch = 0
    for event in ["first contact"] + ["unchanged"] * n_unchanged:
        before = spooled()
        probe = keys(1000 * batch, 1000 * batch + 5000)
        n = dedup._bloom_filter_keys(spark, bdir, probe, 2, "k").count()
        print(f"| {batch} | {(spooled() - before) / 1e6:.3f} | "
              f"{event} ({n} survivors) |")
        batch += 1
    delta_lo = 120_000
    dedup._bloom_rows(keys(delta_lo, delta_lo + 6_000), 2, col="k") \
        .write.mode("append").partitionBy("pfx").parquet(bdir)
    delta_mb = _dir_bytes(bdir) / 1e6 - sidecar_mb
    before = spooled()
    n = dedup._bloom_filter_keys(
        spark, bdir, keys(110_000, 130_000), 2, "k").count()
    print(f"| {batch} | {(spooled() - before) / 1e6:.3f} | append "
          f"(+{delta_mb:.3f} MB delta on disk; {n} survivors) |")
    batch += 1
    tmp = bdir + ".build"
    dedup._bloom_rows(keys(0, delta_lo + 6_000), 2, col="k").write.mode(
        "errorifexists").partitionBy("pfx").parquet(tmp)
    shutil.rmtree(bdir)
    os.rename(tmp, bdir)
    rebuilt_mb = _dir_bytes(bdir) / 1e6
    for event in [f"rebuild swap ({rebuilt_mb:.2f} MB new paths)",
                  "unchanged after rebuild"]:
        before = spooled()
        n = dedup._bloom_filter_keys(
            spark, bdir, keys(1000 * batch, 1000 * batch + 5000),
            2, "k").count()
        print(f"| {batch} | {(spooled() - before) / 1e6:.3f} | "
              f"{event} ({n} survivors) |")
        batch += 1


def _probe_incremental_ann(spark, ui) -> None:
    """Incremental ANN ingestion shape: a FIXED 6k-vector batch appended
    into persisted IVF layouts built from x10/x30/x100 embedding corpora.
    Append cost must track the batch; probe parity vs a one-shot
    build-from-union layout is asserted at every point."""
    import shutil

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators.similarity import (
        append_ivf_layout, ivf_layout_topk, write_ivf_layout)

    batch = (spark.read.parquet(os.path.join(generate(3), "embeddings.parquet"))
             .withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
             .localCheckpoint(eager=True))
    print("| corpus | metric | value |")
    print("|---|---|---|")
    for s in (10, 30, 100):
        emb = spark.read.parquet(
            os.path.join(generate(s), "embeddings.parquet"))
        base = os.path.join(PROBE_ROOT, f"ivf_x{s}")
        full = os.path.join(PROBE_ROOT, f"ivf_full_x{s}")
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(full, ignore_errors=True)
        t0 = time.perf_counter()
        cents = write_ivf_layout(emb, base, n_cells=16, seed=7)
        build_dt = time.perf_counter() - t0
        r0, w0 = _shuffle_totals(ui)
        t0 = time.perf_counter()
        n = append_ivf_layout(batch, base)
        dt = time.perf_counter() - t0
        _, w1 = _shuffle_totals(ui)
        # parity: one-shot layout from the union with the SAME centroids
        write_ivf_layout(emb.unionByName(batch), full, centroids=cents)
        queries = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        res = lambda p: {
            (r["query_id"], r["neighbor_id"], r["cosine_sim"])
            for r in ivf_layout_topk(spark, p, queries, k=5,
                                     n_probe=3).collect()}
        assert res(base) == res(full), f"x{s}: append != build-from-union"
        print(f"| x{s} ({2000*s} vecs) | build layout once | {build_dt:.1f}s |")
        print(f"| x{s} ({2000*s} vecs) | append 6k batch | "
              f"{dt:.2f}s / {(w1-w0)/1e6:.1f}MB shufW / {n} vecs / "
              f"probe parity OK |")
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(full, ignore_errors=True)


if __name__ == "__main__" and sys.argv[1:2] not in (
        ["--incremental"], ["--incremental-ann"], ["--iterative"],
        ["--window"], ["--bandskew"], ["--ingest"], ["--compaction"],
        ["--cdc"], ["--spans"], ["--bands-sidecar"], ["--cdc-rebucket"],
        ["--stream-ledger"], ["--worker-bloom"]):
    main()
elif __name__ == "__main__":
    # extra modes share main()'s session posture but run one probe each
    from pyspark.sql import SparkSession

    from dask_patternsearch_spark.queries import all_queries

    _master = "local[32]"
    if sys.argv[1:2] == ["--worker-bloom"]:
        # spool env must exist BEFORE the JVM starts so python workers
        # inherit it; local[1] (default) makes worker warmup
        # deterministic, an optional N measures the asymptotic warmup
        # across a worker pool (see _probe_worker_bloom)
        _spool = os.path.join(PROBE_ROOT, "bloomspool")
        import shutil as _shutil

        _shutil.rmtree(_spool, ignore_errors=True)
        os.makedirs(_spool)
        os.environ["SPARK_GRAFT_BLOOM_SPOOL"] = _spool
        _master = f"local[{sys.argv[2] if len(sys.argv) > 2 else 1}]"
    _spark = _build_session("scaleprobe-extra", master=_master)
    _ui = _spark.sparkContext.uiWebUrl
    mode = sys.argv[1]
    if mode == "--incremental":
        _probe_incremental(_spark, _ui)
    elif mode == "--incremental-ann":
        _probe_incremental_ann(_spark, _ui)
    elif mode == "--iterative":
        _scales = tuple(int(x) for x in sys.argv[2].split(",")) \
            if len(sys.argv) > 2 else (1, 3, 10)
        _probe_iterative(_spark, _ui, all_queries(), scales=_scales)
    elif mode == "--bandskew":
        _probe_bandskew(
            _spark, _ui,
            scale=int(sys.argv[2]) if len(sys.argv) > 2 else 100)
    elif mode == "--ingest":
        _probe_ingest(_spark, _ui)
    elif mode == "--cdc":
        _probe_cdc(_spark, _ui)
    elif mode == "--bands-sidecar":
        _probe_bands_sidecar(_spark, _ui)
    elif mode == "--cdc-rebucket":
        _probe_cdc_rebucket(_spark, _ui)
    elif mode == "--stream-ledger":
        _probe_stream_ledger(_spark, _ui)
    elif mode == "--worker-bloom":
        _probe_worker_bloom(_spark, _ui)
    elif mode == "--spans":
        _probe_spans(_spark, _ui)
    elif mode == "--compaction":
        _probe_compaction(
            _spark, _ui,
            corpus=sys.argv[2] if len(sys.argv) > 2 else "heaps")
    else:
        _probe_session(_spark, _ui, all_queries())
    _spark.stop()
