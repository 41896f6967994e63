"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line LAST:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The driver captures only the final ~2000 characters of stdout and
parses the LAST JSON line from that tail (round 6's line overflowed
it → ``parsed: null``), so the printed line carries ONLY the headline
per-query seconds plus counts — the full regression-gate detail
(``micro``, ``ratio_vs_best``, ``regressions``, ``errors``) goes to
``BENCH_DETAIL.json`` next to this script, and the bench session
disables Spark's console progress bar so stage-progress ``\\r`` spam
cannot eat the tail window.

The regression gate compares per-query ``ratio_vs_best`` against the
best time ever recorded for that query (``BENCH_BASELINE.json``,
updated only on improvement), with anything >1.5x listed under
``regressions`` in BENCH_DETAIL.json — the round produces its own
drift signal instead of relying on a judge diffing two JSON files.
``n_queries``/``n_expected`` make totals from different rounds
comparable like-for-like: a round where a query errored (excluded
from the sum) is visibly not the same denominator as a clean round.

Queries are executed with the ``noop`` sink (full plan execution, no
driver-side collection) so the timing reflects engine throughput.
Each lane reports TWO numbers since r17: the warm best-of-N execution
(the floor-gate metric, methodology unchanged since r1) and
``cold_sec`` = DataFrame build + FIRST execution — the honest
end-to-end cost for plans whose ``localCheckpoint``/``persist`` pays
its heavy pass in the build or run 1 (r16 verdict item #1). Cold
numbers live in ``BENCH_DETAIL.json`` (plus informational
``*cold_best_sec`` floors in the baseline file) and never gate.
Scale-path operators run their production (xxhash64) variants, not the
md5-portable variants the correctness oracles use.

``micro_event_us_{long,ntz}`` time the SAME event-time normalization
(scan -> event_micros -> one agg) over the two parquet encodings the
driver's testdata has shipped (nanos-as-long INT64 vs TIMESTAMP_NTZ),
staged side-by-side from the current events table — so an encoding
change between rounds shows up as a delta in ONE pair of numbers, not
as mystery drift across every event query. Micro entries are excluded
from the headline total (kept like-for-like with earlier rounds).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from geniepool_etl_spark import contract as C  # noqa: E402
from geniepool_etl_spark.operators import dedup as D  # noqa: E402
from geniepool_etl_spark.operators import events as E  # noqa: E402
from geniepool_etl_spark.operators import packing as PK  # noqa: E402
from geniepool_etl_spark.operators import similarity as S  # noqa: E402
from geniepool_etl_spark.operators import text as TX  # noqa: E402
from geniepool_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_BASELINE.json"
)
REGRESSION_RATIO = 1.5

# --- sf1 lane -------------------------------------------------------
# At sf0.1 most headline queries are sub-second and the 2x gate is
# noise-dominated (SCALE.md "Benchmark discipline"). The heaviest
# queries (10 lanes as of r8) therefore ALSO run at a staged 10x
# blow-up of the sf0.1 tables — seconds-long timings where shuffle and skew behavior
# is real. Staging replicates each table 10x with disjoint key ranges
# (order/doc/vec ids offset per copy) and ROTATES each embedding
# vector by its copy index — norm-preserving, so replicas are not
# 10x exact duplicates that would degenerate the semantic-dedup
# workload into dup-pair explosion. Staged once under .benchdata/sf1
# (gitignored), reused across rounds; delete the dir to restage.
SF1_COPIES = 10
SF1_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_DIR",
    os.path.join(os.path.dirname(os.path.abspath(__file__)),
                 ".benchdata", "sf1"),
)
SF1_ENABLED = os.environ.get("SPARK_GRAFT_SF1", "1") != "0"


_SF1_STAGE_VERSION = "v2"  # v2: adds the events table


def _stage_sf1(spark, base_dir: str) -> None:
    marker = os.path.join(SF1_DIR, "_STAGED")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == _SF1_STAGE_VERSION:
                return
    import shutil

    shutil.rmtree(SF1_DIR, ignore_errors=True)
    os.makedirs(SF1_DIR, exist_ok=True)

    def rep(df, offsets: dict, transform=None):
        parts = []
        for i in range(SF1_COPIES):
            d = df
            for col, step in offsets.items():
                d = d.withColumn(col, F.col(col) + F.lit(i * step))
            if transform is not None:
                d = transform(d, i)
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    li = C._t(spark, base_dir, "lineitem")
    od = C._t(spark, base_dir, "orders")
    okey_step = int(od.agg(F.max("o_orderkey")).first()[0]) + 1
    docs = C._t(spark, base_dir, "documents")
    doc_step = int(docs.agg(F.max("doc_id")).first()[0]) + 1
    emb = C._t(spark, base_dir, "embeddings")
    vec_step = int(emb.agg(F.max("vec_id")).first()[0]) + 1
    from geniepool_etl_spark.functions import enable_nanos_as_long

    enable_nanos_as_long(spark)
    ev = C._t(spark, base_dir, "events")
    ev_step = int(ev.agg(F.max("event_id")).first()[0]) + 1
    user_step = int(ev.agg(F.max("user_id")).first()[0]) + 1

    def rotate_vec(d, i):
        if i == 0:
            return d
        v, n = F.col("embedding"), F.size("embedding")
        return d.withColumn(
            "embedding",
            F.concat(F.slice(v, i + 1, n - i), F.slice(v, 1, i)),
        )

    for name, df in (
        ("lineitem", rep(li, {"l_orderkey": okey_step})),
        ("orders", rep(od, {"o_orderkey": okey_step})),
        ("documents", rep(docs, {"doc_id": doc_step})),
        ("embeddings", rep(emb, {"vec_id": vec_step}, rotate_vec)),
        # same timestamps, disjoint user populations per copy: the
        # per-user event streams keep their real temporal shape while
        # the keyed shuffles see 10x the users
        ("events", rep(ev, {"event_id": ev_step, "user_id": user_step})),
    ):
        df.write.mode("overwrite").parquet(
            os.path.join(SF1_DIR, f"{name}.parquet")
        )
    with open(marker, "w") as fh:
        fh.write(_SF1_STAGE_VERSION + "\n")


# --- sf10 lane ------------------------------------------------------
# A second staged decade (100x sf0.1) for the three heaviest queries
# only. One decade proves auto-sizing works once; two decades verify
# the GROWTH CURVE: candidate volume must grow ~linearly with the
# corpus (the O(N^2) trap shows up as a superlinear step between the
# decades, invisible within one). Staged as 10 copies of the sf1
# tables (lineitem/orders/embeddings — all three queries' inputs).
# Key offsets keep ids disjoint; embeddings additionally get a
# norm-preserving PLANE ROTATION (coords 0,1; angle 0.35*j) per
# decade copy — circular shifts alone can't distinguish 100 copies of
# a 64-dim vector (the shift group has order 64), and exact-duplicate
# blocks would degenerate the semantic-dedup workload into systematic
# dup-pair inflation.
SF10_COPIES = 10  # x SF1 = 100x sf0.1
SF10_DIR = os.environ.get(
    "SPARK_GRAFT_SF10_DIR",
    os.path.join(os.path.dirname(os.path.abspath(__file__)),
                 ".benchdata", "sf10"),
)
SF10_ENABLED = os.environ.get("SPARK_GRAFT_SF10", "1") != "0"

_SF10_STAGE_VERSION = "v3"  # v3: tags document words per copy


def _stage_sf10(spark) -> None:
    """Stage the sf10 tables from the (already staged) sf1 ones. The
    marker records the sf1 marker's mtime: when sf1 restages (new
    stage version, or the driver re-materialized the base testdata),
    a stale sf10 would silently bench against the OLD decade — so it
    restages too."""
    sf1_marker = os.path.join(SF1_DIR, "_STAGED")
    token = f"{_SF10_STAGE_VERSION}:{int(os.path.getmtime(sf1_marker))}"
    marker = os.path.join(SF10_DIR, "_STAGED")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == token:
                return
    import shutil

    shutil.rmtree(SF10_DIR, ignore_errors=True)
    os.makedirs(SF10_DIR, exist_ok=True)

    def rep(df, offsets: dict, transform=None):
        parts = []
        for j in range(SF10_COPIES):
            d = df
            for col, step in offsets.items():
                d = d.withColumn(col, F.col(col) + F.lit(j * step))
            if transform is not None:
                d = transform(d, j)
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def plane_rot(d, j):
        if j == 0:
            return d
        t = 0.35 * j
        # rotate in the (0,1) coordinate plane: norm-preserving, and
        # a distinct transform per decade copy that is NOT a
        # coordinate permutation — composed with the sf1 copies'
        # circular shifts, no two of the 100 blocks are exact
        # duplicates of each other
        return d.withColumn(
            "embedding",
            F.expr(
                "transform(embedding, (x, c) -> cast(case"
                f" when c = 0 then cos({t}D) * embedding[0]"
                f"   - sin({t}D) * embedding[1]"
                f" when c = 1 then sin({t}D) * embedding[0]"
                f"   + cos({t}D) * embedding[1]"
                " else x end as float))"
            ),
        )

    li = C._t(spark, SF1_DIR, "lineitem")
    od = C._t(spark, SF1_DIR, "orders")
    okey_step = int(od.agg(F.max("o_orderkey")).first()[0]) + 1
    emb = C._t(spark, SF1_DIR, "embeddings")
    vec_step = int(emb.agg(F.max("vec_id")).first()[0]) + 1
    docs = C._t(spark, SF1_DIR, "documents")
    doc_step = int(docs.agg(F.max("doc_id")).first()[0]) + 1

    def tag_words(d, j):
        if j == 0:
            return d
        # per-decade-copy VOCABULARY tag: verbatim text replicas would
        # make every doc a guaranteed near-dup of its 99 copies —
        # C(copies, 2) forced pairs per doc, quadratic in copies by
        # CONSTRUCTION, drowning the engine-scaling signal (the same
        # trap the embeddings' plane rotation avoids). Prefixing every
        # word with the copy index makes cross-copy Jaccard exactly 0
        # while preserving each copy's internal near-dup structure, so
        # candidate volume grows linearly with the decade.
        return d.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.concat(F.lit(f"c{j}"), w),
                ),
                " ",
            ),
        )

    for name, df in (
        ("lineitem", rep(li, {"l_orderkey": okey_step})),
        ("orders", rep(od, {"o_orderkey": okey_step})),
        ("embeddings", rep(emb, {"vec_id": vec_step}, plane_rot)),
        ("documents", rep(docs, {"doc_id": doc_step}, tag_words)),
    ):
        df.write.mode("overwrite").parquet(
            os.path.join(SF10_DIR, f"{name}.parquet")
        )
    with open(marker, "w") as fh:
        fh.write(token + "\n")


def sf10_queries(spark) -> dict:
    emb10 = C._t(spark, SF10_DIR, "embeddings")
    n_emb10 = emb10.count()
    # Ordering note (r11): the embedding lanes run BEFORE the 60M-row
    # flagship — measured in-battery, dedup_semantic directly after
    # flagship reads 5.8 s against a 2.4 s isolated floor (flagship's
    # heap churn, not the operator); flagship itself is insensitive
    # to predecessors (disk-bound scan + two exchanges).
    return {
        "dedup_semantic": lambda: S.semantic_dedup_keep(
            emb10, threshold=0.3, n_centroids=None, n_rows=n_emb10
        ),
        "sim_lsh_topk": lambda: S.lsh_bucket_topk(
            emb10, k=5, n_planes=None, n_rows=n_emb10
        ),
        "flagship_lake_nest": lambda: C.q_flagship_lake_nest(
            spark, SF10_DIR
        ),
        # the banded minhash self-join — the remaining scale-shape
        # family at the second decade (500k docs; shingle-bucketed,
        # hot buckets capped — candidate volume must stay ~linear)
        "dedup_minhash_lsh": lambda: C.q_dedup_minhash_lsh(
            spark, SF10_DIR
        ),
        # the two heaviest sf1 text lanes, decaded (r10 verdict #5):
        # both are distinct-domain joins (bigram LM / per-distinct-
        # word BPE) whose decade step must stay ~linear in corpus
        # size — a superlinear step would mean the distinct-key
        # domain is no longer absorbing the growth
        "text_perplexity": lambda: TX.bigram_surprisal_scores(
            C._t(spark, SF10_DIR, "documents")
        ),
        "text_bpe_encode": lambda: C.q_text_bpe_encode(
            spark, SF10_DIR
        ),
    }


def sf1_queries(spark) -> dict:
    emb1 = C._t(spark, SF1_DIR, "embeddings")
    n_emb1 = emb1.count()
    return {
        "flagship_lake_nest": lambda: C.q_flagship_lake_nest(
            spark, SF1_DIR
        ),
        # n_centroids=None engages auto_n_centroids (~sqrt N) via the
        # n_rows hint — same trap as the LSH plane count below: the
        # contract entry's FIXED 16 centroids (oracle parity) means
        # cluster width grows linearly with the corpus and the
        # within-cluster pair stage quadratically in width
        "dedup_semantic": lambda: S.semantic_dedup_keep(
            emb1, threshold=0.3, n_centroids=None, n_rows=n_emb1
        ),
        # n_planes=None engages auto_n_planes via the n_rows hint —
        # the production corpus-sized bucket space; a FIXED plane
        # count is the scale trap the sf1 lane exists to catch
        # (8 planes at 20k rows: avg bucket 78 -> 23 s; auto 10
        # planes: avg 20 -> the candidate volume stays O(n))
        "sim_lsh_topk": lambda: S.lsh_bucket_topk(
            emb1, k=5, n_planes=None, n_rows=n_emb1
        ),
        "text_perplexity": lambda: TX.bigram_surprisal_scores(
            C._t(spark, SF1_DIR, "documents")
        ),
        "text_bpe_encode": lambda: C.q_text_bpe_encode(spark, SF1_DIR),
        # round-8 widening: the three remaining scale-shape families —
        # banded self-join (minhash LSH), iterative label propagation
        # (alternating-star clusters), Pregel-style supersteps
        # (pagerank) — all on staged-at-sf1 tables
        "dedup_minhash_lsh": lambda: C.q_dedup_minhash_lsh(
            spark, SF1_DIR
        ),
        "dedup_clusters": lambda: C.q_dedup_clusters(spark, SF1_DIR),
        "graph_pagerank": lambda: C.q_graph_pagerank(spark, SF1_DIR),
        # bucket-rewritten range join + session windows at 10x users
        "events_interval_join": lambda: C.q_events_interval_join(
            spark, SF1_DIR
        ),
        "events_session": lambda: C.q_events_session(spark, SF1_DIR),
        "events_resample_ffill": lambda: C.q_events_resample_ffill(
            spark, SF1_DIR
        ),
    }


def _stage_event_encodings(spark, sf_dir: str) -> dict[str, str]:
    """Write the events table twice — ts as raw nanos INT64 and as
    TIMESTAMP_NTZ — so the micro benchmark compares the two
    normalization branches on identical data. Staging happens once,
    before any timing."""
    ev = C._t(spark, sf_dir, "events")
    us = E.with_event_time(ev).withColumn("_us", F.col("ts_us"))
    base = tempfile.mkdtemp(prefix="gp_bench_enc_")
    cols = [c for c in ev.columns if c != "ts"]
    out = {}
    for enc, ts_col in (
        ("long", (F.col("_us") * 1000).cast("long")),
        ("ntz", F.timestamp_micros(F.col("_us")).cast("timestamp_ntz")),
    ):
        path = os.path.join(base, enc)
        us.select(ts_col.alias("ts"), *cols).write.parquet(path)
        out[enc] = path
    return out


def bench_queries(spark, sf_dir):
    docs = C._t(spark, sf_dir, "documents")
    emb = C._t(spark, sf_dir, "embeddings")
    # auto-sizing hints, computed once in setup (not part of any
    # timing): the operators must not fire implicit pre-jobs
    n_emb = emb.count()
    doc_tokens = int(
        docs.select(
            F.coalesce(
                F.sum(F.size(TX.words_col(F.col("text")))), F.lit(0)
            )
        ).first()[0]
    )
    enc_dirs = _stage_event_encodings(spark, sf_dir)

    def micro_event_us(path):
        df = spark.read.parquet(path)
        return E.with_event_time(df).groupBy().agg(
            F.sum("ts_us").alias("sum_us"), F.count("*").alias("n")
        )

    # SCD2 maintenance evidence pair: the incremental path's claim is
    # O(batch) vs the full rebuild's O(history) — measure both. The
    # standing history is staged to parquet once (in production it IS
    # a stored table); only the merge/rebuild is timed.
    from geniepool_etl_spark.operators.upsert import (
        scd2_apply_batch, scd2_from_changelog,
    )

    e_all = E.with_event_time(C._t(spark, sf_dir, "events"))
    split_us = C._SCD2_SPLIT_US
    standing_dir = tempfile.mkdtemp(prefix="gp_bench_scd2_")
    scd2_from_changelog(
        e_all.where(F.col("ts_us") < split_us),
        key="user_id", ts_col="ts_us", attr="event_type",
        id_col="event_id",
    ).write.mode("overwrite").parquet(standing_dir)
    scd2_standing = spark.read.parquet(standing_dir)
    scd2_batch = e_all.where(F.col("ts_us") >= split_us).select(
        "user_id", "ts_us", "event_type", "event_id"
    )

    def micro_scd2_full():
        return scd2_from_changelog(
            e_all, key="user_id", ts_col="ts_us", attr="event_type",
            id_col="event_id",
        )

    def micro_scd2_apply():
        return scd2_apply_batch(
            scd2_standing, scd2_batch, key="user_id", ts_col="ts_us",
            attr="event_type", id_col="event_id",
        )

    return {
        "flagship_lake_nest": lambda: C.q_flagship_lake_nest(spark, sf_dir),
        "pricing_summary": lambda: C.q_a4_pricing_summary(spark, sf_dir),
        "broadcast_join_agg": lambda: C.q_j3_broadcast_join_agg(spark, sf_dir),
        "window_topk": lambda: C.q_w1_window_topk(spark, sf_dir),
        "events_session": lambda: C.q_events_session(spark, sf_dir),
        "events_tumbling": lambda: C.q_events_tumbling(spark, sf_dir),
        "dedup_exact": lambda: D.exact_dedup_stats(docs),
        "dedup_minhash_lsh": lambda: D.minhash_lsh_pairs(docs, num_perm=64, bands=16),
        "dedup_simhash": lambda: D.simhash_bands(docs, bands=4, bits=64),
        "text_stats": lambda: TX.with_token_count(TX.with_text_stats(docs)),
        "pack_windows": lambda: PK.pack_windows(docs, total_tokens=doc_tokens),
        "sim_lsh_topk": lambda: S.lsh_bucket_topk(
            emb, k=5, n_planes=None, n_rows=n_emb
        ),
        "two_level_nest": lambda: C.q_a2_two_level_nest(spark, sf_dir),
        # round-6 additions (production xxhash64 variants)
        "dedup_repeated_spans": lambda: D.repeated_ngram_spans(docs, n=5),
        "text_pii": lambda: TX.with_pii_counts(docs),
        "events_interval_join": lambda: C.q_events_interval_join(spark, sf_dir),
        "rollup_incremental": lambda: C.q_rollup_incremental(spark, sf_dir),
        "pipeline_corpus_build": lambda: C.q_pipeline_corpus_build(spark, sf_dir),
        # round-6 second wave
        "scd2_point_in_time": lambda: C.q_scd2_point_in_time(spark, sf_dir),
        "table_diff": lambda: C.q_table_diff(spark, sf_dir),
        "text_bm25": lambda: C.q_text_bm25(spark, sf_dir),
        "pipeline_user_features": lambda: C.q_pipeline_user_features(
            spark, sf_dir
        ),
        # round-7 additions: the deepest new TPC-H shapes
        "tpch_q9": lambda: C.q_sql_tpch_q9(spark, sf_dir),
        "tpch_q21": lambda: C.q_sql_tpch_q21(spark, sf_dir),
        # round-7 second wave: LLM-pipeline additions
        "text_perplexity": lambda: TX.bigram_surprisal_scores(
            C._t(spark, sf_dir, "documents")
        ),
        "dedup_semantic": lambda: C.q_dedup_semantic(spark, sf_dir),
        "text_bpe_encode": lambda: C.q_text_bpe_encode(spark, sf_dir),
        # round-8 additions: the new query-shaped lanes (the snap_*
        # table lanes are write-heavy and stay out of the read bench)
        "text_collocations": lambda: C.q_text_collocations(spark, sf_dir),
        "events_pattern_match": lambda: C.q_events_pattern_match(
            spark, sf_dir
        ),
        "sim_ivfpq_topk": lambda: C.q_sim_ivfpq_topk(spark, sf_dir),
        # round-8 third wave: web-curation text lanes (narrow maps —
        # these time scan-speed expression throughput; nfc times the
        # Arrow-batched pandas-UDF lane) and the events grid/segment
        # rollups
        "text_html_clean": lambda: C.q_text_html_clean(spark, sf_dir),
        "text_gopher_gates": lambda: C.q_text_gopher_gates(
            spark, sf_dir
        ),
        "text_nfc_normalize": lambda: C.q_text_nfc_normalize(
            spark, sf_dir
        ),
        "events_resample_ffill": lambda: C.q_events_resample_ffill(
            spark, sf_dir
        ),
        "events_rfm": lambda: C.q_events_rfm(spark, sf_dir),
        "events_ewma": lambda: C.q_events_ewma(spark, sf_dir),
        "text_quality_classifier": lambda: C.q_text_quality_classifier(
            spark, sf_dir
        ),
        "pipeline_web_curation": lambda: C.q_pipeline_web_curation(
            spark, sf_dir
        ),
        "micro_event_us_long": lambda: micro_event_us(enc_dirs["long"]),
        "micro_event_us_ntz": lambda: micro_event_us(enc_dirs["ntz"]),
        "micro_scd2_full_rebuild": micro_scd2_full,
        "micro_scd2_apply_batch": micro_scd2_apply,
    }


def _load_baseline_file() -> dict:
    try:
        with open(BASELINE_PATH) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _save_baseline_file(d: dict) -> None:
    with open(BASELINE_PATH, "w") as fh:
        json.dump(d, fh, indent=2, sort_keys=True)
        fh.write("\n")


def _loadavg() -> list:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        return []


def main() -> None:
    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)
    # Box-state telemetry (r15, judge item #2): every round has spent
    # effort re-litigating >1.5x flags that were load noise — r14's 6
    # flags were all box state, adjudicated by hand against uptime
    # notes. Record the 1/5/15-min load averages at start/end plus a
    # control-lane re-run before each heavy block IN the artifact, so
    # a flag accompanied by loadavg >~2 or a control excursion is
    # machine-classifiable as context, not regression.
    load_start = _loadavg()
    spark = get_spark(
        "geniepool-bench",
        # stage-progress \r output would land inside the driver's
        # 2000-char stdout tail and could cut off the final JSON line
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = bench_queries(spark, SF_DIR)
    # warm the JVM + file listing once with a trivial action
    C._t(spark, SF_DIR, "lineitem").limit(1).count()

    timings: dict[str, float] = {}
    cold_sec: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, build in qs.items():
        # Per-query isolation: one broken plan must degrade to a
        # reported failure, not zero the whole round's signal.
        try:
            # Build the DataFrame (logical plan) once — client-side plan
            # construction is py4j chatter, not engine work, and at
            # cluster scale it amortizes to zero. The floor-gate metric
            # stays the warm best-of-3 execution (methodology unchanged
            # since r1); r17 ADDITIONALLY reports cold_sec = build +
            # FIRST execution, because plans carrying localCheckpoint /
            # persist pay their heavy pass in the build (eager) or run 1
            # (lazy) and the best-of-3 minimum alone would report only
            # the warm post-materialization cost (r16 verdict item #1).
            tb0 = time.perf_counter()
            df = build()
            build_s = time.perf_counter() - tb0
            # best-of-3: single runs on a shared machine show 2-3×
            # noise spikes; the minimum reflects engine cost
            best = float("inf")
            first_s = None
            for _ in range(3):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                if first_s is None:
                    first_s = dt
                best = min(best, dt)
            timings[name] = round(best, 3)
            cold_sec[name] = round(build_s + first_s, 3)
        except Exception as exc:  # noqa: BLE001 — harness boundary
            first = str(exc).strip().splitlines()[0] if str(exc) else ""
            errors[name] = f"{type(exc).__name__}: {first[:200]}"

    headline = {k: v for k, v in timings.items() if not k.startswith("micro_")}
    micro = {k: v for k, v in timings.items() if k.startswith("micro_")}
    n_expected = sum(1 for k in qs if not k.startswith("micro_"))

    # Control lane (r15): one timed pricing_summary execution at the
    # base SF immediately before each heavy staged block. The headline
    # pricing_summary is the session-start control; these re-runs
    # bracket the sf1/sf10 blocks so a heavy-block flag can be
    # adjudicated against a simultaneous known-cost lane.
    control_sec: dict[str, float] = {}

    def _control(tag: str) -> None:
        try:
            df = C.q_a4_pricing_summary(spark, SF_DIR)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            control_sec[tag] = round(time.perf_counter() - t0, 3)
            control_sec[f"{tag}_load1m"] = (_loadavg() or [None])[0]
        except Exception:  # noqa: BLE001 — telemetry must not gate
            pass

    # sf1 lane: the heaviest queries at the staged 10x blow-up —
    # best-of-2 (seconds-long runs, noise is proportionally small)
    sf1_timings: dict[str, float] = {}
    sf1_cold_sec: dict[str, float] = {}
    if SF1_ENABLED:
        try:
            _stage_sf1(spark, SF_DIR)
            _control("pre_sf1")
            for name, build in sf1_queries(spark).items():
                try:
                    tb0 = time.perf_counter()
                    df = build()
                    build_s = time.perf_counter() - tb0
                    best = float("inf")
                    first_s = None
                    for _ in range(2):
                        t0 = time.perf_counter()
                        df.write.format("noop").mode("overwrite").save()
                        dt = time.perf_counter() - t0
                        if first_s is None:
                            first_s = dt
                        best = min(best, dt)
                    sf1_timings[name] = round(best, 3)
                    sf1_cold_sec[name] = round(build_s + first_s, 3)
                except Exception as exc:  # noqa: BLE001
                    first = str(exc).strip().splitlines()[0] if str(exc) else ""
                    errors[f"sf1_{name}"] = (
                        f"{type(exc).__name__}: {first[:200]}"
                    )
        except Exception as exc:  # noqa: BLE001 — staging failure
            first = str(exc).strip().splitlines()[0] if str(exc) else ""
            errors["sf1_staging"] = f"{type(exc).__name__}: {first[:200]}"

    # sf10 lane: the three heaviest queries at a second staged decade
    # (100x sf0.1) — single runs (tens of seconds; noise is
    # proportionally negligible and a second run would double the
    # block for no signal)
    sf10_timings: dict[str, float] = {}
    sf10_cold_sec: dict[str, float] = {}
    if SF1_ENABLED and SF10_ENABLED:
        try:
            _stage_sf10(spark)
            # FRESH JVM for the heaviest block: by this point the
            # session has executed ~50 queries whose accumulated heap
            # state (eager localCheckpoint blocks are never
            # unpersisted, broadcast/AQE debris) OOMed the 8g driver
            # at the 60M-row flagship decade inside the full
            # preflight battery — reproducibly absent in isolation.
            # Restart cost (~10 s) is outside every timed region.
            # Quiesce logging around the restart: the dying context's
            # async listener drain emits a harmless "non-existent
            # accumulator" ERROR stack (r11 verdict nit #3) that
            # burned ~1.5 KB of the driver's 2 KB stdout-tail parse
            # window. OFF before stop; the new context goes back to
            # ERROR with the DAGScheduler logger pinned OFF (the old
            # context's stragglers drain into the same JVM's log4j).
            spark.sparkContext.setLogLevel("OFF")
            spark.stop()
            spark = get_spark(
                "geniepool-bench-sf10",
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
            spark.sparkContext.setLogLevel("ERROR")
            try:
                jvm = spark.sparkContext._jvm
                jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                    "org.apache.spark.scheduler.DAGScheduler",
                    jvm.org.apache.logging.log4j.Level.OFF,
                )
            except Exception:  # noqa: BLE001 — log4j2 API drift
                pass
            # control in the FRESH JVM: warms it and gives the sf10
            # block a same-session known-cost reference (cold-JVM C2
            # state is itself a 5-6x effect on sub-minute jobs)
            _control("pre_sf10")
            for name, build in sf10_queries(spark).items():
                try:
                    tb0 = time.perf_counter()
                    df = build()
                    build_s = time.perf_counter() - tb0
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    exec_s = time.perf_counter() - t0
                    sf10_timings[name] = round(exec_s, 3)
                    sf10_cold_sec[name] = round(build_s + exec_s, 3)
                except Exception as exc:  # noqa: BLE001
                    first = str(exc).strip().splitlines()[0] if str(exc) else ""
                    errors[f"sf10_{name}"] = (
                        f"{type(exc).__name__}: {first[:200]}"
                    )
        except Exception as exc:  # noqa: BLE001 — staging failure
            first = str(exc).strip().splitlines()[0] if str(exc) else ""
            errors["sf10_staging"] = f"{type(exc).__name__}: {first[:200]}"

    # Regression gate: ratio vs the best time ever recorded per query;
    # the baseline file only ever improves, so a ratio > 1 is real
    # history, not this run grading its own homework.
    bl_file = _load_baseline_file()
    baseline = dict(bl_file.get("best_sec") or {}) if bl_file.get(
        "sf"
    ) == sf else {}
    ratios = {
        k: round(v / baseline[k], 2)
        for k, v in timings.items()
        if baseline.get(k)
    }
    regressions = {k: r for k, r in ratios.items() if r > REGRESSION_RATIO}
    # sf1 floors are only comparable when staged from the SAME base
    # sf — a base-sf change restages different data (review finding:
    # the headline baseline already had this guard, the sf1 one not)
    sf1_baseline = (
        dict(bl_file.get("sf1_best_sec") or {})
        if bl_file.get("sf") == sf
        else {}
    )
    sf1_ratios = {
        k: round(v / sf1_baseline[k], 2)
        for k, v in sf1_timings.items()
        if sf1_baseline.get(k)
    }
    sf1_regressions = {
        k: r for k, r in sf1_ratios.items() if r > REGRESSION_RATIO
    }
    sf10_baseline = (
        dict(bl_file.get("sf10_best_sec") or {})
        if bl_file.get("sf") == sf
        else {}
    )
    sf10_ratios = {
        k: round(v / sf10_baseline[k], 2)
        for k, v in sf10_timings.items()
        if sf10_baseline.get(k)
    }
    sf10_regressions = {
        k: r for k, r in sf10_ratios.items() if r > REGRESSION_RATIO
    }
    improved = False
    for k, v in timings.items():
        if v < baseline.get(k, float("inf")):
            baseline[k] = v
            improved = True
    for k, v in sf1_timings.items():
        if v < sf1_baseline.get(k, float("inf")):
            sf1_baseline[k] = v
            improved = True
    for k, v in sf10_timings.items():
        if v < sf10_baseline.get(k, float("inf")):
            sf10_baseline[k] = v
            improved = True
    # Historical warmed best-evers (r15 ADVICE #3): the anchor floors
    # above may be RE-CALIBRATED upward when a lane's warmed floor is
    # unreachable in bench context (documented rule, r13/r14) — the
    # hist_* fields are INFORMATIONAL true floors that only ever
    # tighten (min over all history incl. pre-recalibration values),
    # never feed the regression gate, and let a future fast window be
    # compared against the real best instead of a raised anchor.
    hist = {
        "hist_best_sec": dict(bl_file.get("hist_best_sec") or {}),
        "hist_sf1_best_sec": dict(bl_file.get("hist_sf1_best_sec") or {}),
        "hist_sf10_best_sec": dict(bl_file.get("hist_sf10_best_sec") or {}),
        # r17: cold floors (build + first execution) — INFORMATIONAL,
        # never gate; they give checkpoint-bearing lanes an honest
        # end-to-end record next to the warm floor (r16 verdict #1)
        "cold_best_sec": dict(bl_file.get("cold_best_sec") or {}),
        "sf1_cold_best_sec": dict(bl_file.get("sf1_cold_best_sec") or {}),
        "sf10_cold_best_sec": dict(bl_file.get("sf10_cold_best_sec") or {}),
    }
    for field, cur in (
        ("hist_best_sec", timings),
        ("hist_sf1_best_sec", sf1_timings),
        ("hist_sf10_best_sec", sf10_timings),
        ("cold_best_sec", cold_sec),
        ("sf1_cold_best_sec", sf1_cold_sec),
        ("sf10_cold_best_sec", sf10_cold_sec),
    ):
        for k, v in cur.items():
            if v < hist[field].get(k, float("inf")):
                hist[field][k] = v
                improved = True
    # Never clobber across an SF mismatch (r15): a diagnostic run at
    # another SF sees an empty baseline (the sf guard above), so every
    # lane looks "improved" and the off-SF timings would OVERWRITE the
    # sf0.1 record. Save only when the stored record is absent or at
    # the same SF.
    if improved and bl_file.get("sf") in (None, sf):
        _save_baseline_file(
            {
                "sf": sf,
                "best_sec": baseline,
                "sf1_best_sec": sf1_baseline,
                "sf10_best_sec": sf10_baseline,
                **hist,
            }
        )

    load_end = _loadavg()
    total = round(sum(headline.values()), 3)
    detail = {
        "sf": sf,
        "total_sec": total,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "control_sec": control_sec,
        "micro": micro,
        # cold = build + FIRST noop execution (r17, verdict item #1):
        # the honest end-to-end cost for plans whose localCheckpoint /
        # persist pays inside run 1. The warm best-of-N stays the
        # floor-gate metric for cross-round continuity.
        "cold_sec": cold_sec,
        "sf1_cold_sec": sf1_cold_sec,
        "sf10_cold_sec": sf10_cold_sec,
        "ratio_vs_best": ratios,
        "regressions": regressions,
        "sf1": sf1_timings,
        "sf1_ratio_vs_best": sf1_ratios,
        "sf1_regressions": sf1_regressions,
        "sf10": sf10_timings,
        "sf10_ratio_vs_best": sf10_ratios,
        "sf10_regressions": sf10_regressions,
        "errors": errors,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=2, sort_keys=True)
        fh.write("\n")

    # The compact line: headline seconds + counts only. Everything
    # else lives in BENCH_DETAIL.json — the driver's 2000-char tail
    # capture must see this whole line (r6 lesson).
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": headline,
        "sf": sf,
        # like-for-like guard: totals are only comparable when the
        # covered-query count matches (an errored query is excluded
        # from the sum and would otherwise masquerade as a speedup)
        "n_queries": len(headline),
        "n_expected": n_expected,
        "n_regressions": len(regressions),
        "n_errors": len(errors),
        # the heaviest queries at the staged 10x blow-up (seconds-
        # long, noise-robust); ratios vs the sf1 floor live in
        # BENCH_DETAIL.json
        "sf1": sf1_timings,
        "n_sf1_regressions": len(sf1_regressions),
        # second staged decade (100x sf0.1): growth-curve check for
        # the three heaviest queries; ratios in BENCH_DETAIL.json
        "sf10": sf10_timings,
        "n_sf10_regressions": len(sf10_regressions),
        # box-state telemetry (r15): 1-min loadavg at start/end plus
        # the control-lane seconds bracketing the heavy blocks — a
        # flag with load >~2 or a control excursion is box state
        "load": [
            (load_start or [None])[0],
            (load_end or [None])[0],
        ],
        "control": control_sec,
    }
    line = json.dumps(out, separators=(",", ":"))
    # belt-and-braces: never overflow the driver's ~2000-char stdout
    # tail. r15: the load/control fields pushed the full line past
    # the old 1500 guard, which silently dropped the per-query
    # record — the budget is now 1800 (post-line noise is bounded:
    # progress bars off, log level ERROR), and the small telemetry
    # fields are sacrificed BEFORE the queries map.
    for drop in ("control", "load", "queries"):
        if len(line) <= 1800:
            break
        out.pop(drop, None)
        line = json.dumps(out, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
