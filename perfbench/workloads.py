"""The two workloads. Each has a set-up (inputs, plus an untimed warm-up
pass over tiny inputs through the same public functions), a timed batch
operation with a traced twin, and ``lake`` also a timed query with a
traced twin. A traced twin calls the same public engine functions with
spans around each layer and a ``noop`` execution at each layer boundary
(prefix timing).

The warm-up pays the JVM's class loading and the first Catalyst analysis
and code generation of every plan shape, so the timed and traced
operations measure a JVM that has run the workload once; the timed
operations still build fresh plans and execute them once.

Layer self time is the difference between successive prefix timings, e.g.
``operators.nest.self_s`` = (VCF scan + annotation joins + nest) minus
(VCF scan + annotation joins). The prefixes compose the same public
functions ``pipeline.convert_vcfs_to_datalake`` composes.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

import checks
import gen
from harness import force, scan_files_read, storage_used_mb

# Sizes (see README.md for why).
COHORT = dict(n_samples=6, calls_per_sample=4000, n_buckets=320, positions_per_bucket=40)
WARMUP_COHORT = dict(n_samples=2, calls_per_sample=200, n_buckets=8, positions_per_bucket=20)
QUERIES = 400
WARMUP_QUERIES = 10
CORPUS = dict(n_docs=500, exact_groups=12, near_groups=12)
WARMUP_CORPUS = dict(n_docs=60, exact_groups=3, near_groups=3)


def _dir_stats(root: str) -> dict:
    files = size = 0
    dirs = set()
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
                dirs.add(d)
    return {"files": files, "bytes": size, "partition_dirs": len(dirs)}


def _removing(check, *dirs):
    """Run ``check``, then delete the checked outputs."""
    def run():
        try:
            return check()
        finally:
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)
    return run


def lake_job(spark, paths: dict, lake_dir: str, status_dir: str) -> None:
    """The reference job: VCFs to lake, then the status record."""
    from geniepool_etl_spark import lake, pipeline

    df = pipeline.convert_vcfs_to_datalake(
        spark, paths["vcf"], paths["impact"], paths["dbsnp"], False, paths["gnomad"], paths["alpha"]
    )
    lake.write_datalake(df, lake_dir)
    lake.write_status(pipeline.get_status(spark, paths["vcf"]), status_dir)


def curate(spark, docs_dir: str, out_dir: str) -> None:
    """The corpus pass: MinHash-LSH (64 perms / 16 bands) -> near-dedup
    keep -> bigram surprisal -> parquet."""
    from geniepool_etl_spark.operators import dedup as D
    from geniepool_etl_spark.operators import text as TX

    docs = spark.read.parquet(docs_dir)
    kept = D.near_dedup_keep(docs, D.minhash_lsh_pairs(docs, num_perm=64, bands=16))
    TX.bigram_surprisal_scores(kept).write.mode("overwrite").parquet(out_dir)


class Workload:
    """Common shape: ``setup`` returns its phase timings; ``batch(i)`` runs
    the timed batch job and returns ``(None, check)``;
    ``traced_batch(i, tracer)`` does the same with spans and returns
    ``(per-layer values, check)``. A workload that serves queries has
    ``query``/``traced_query`` of the same shape. A check runs untimed and
    returns a list of problems."""

    #: what ``work_per_s`` counts, per batch job
    unit = ""

    def __init__(self, spark, work: str, seed: int, tally):
        self.spark, self.work, self.seed, self.tally = spark, work, seed, tally

    def out(self, name: str) -> str:
        return os.path.join(self.work, "out", name)


class Lake(Workload):
    """Build the lake from the cohort (the reference job), then serve
    ``read_range`` queries from that lake."""

    unit = "VCF call rows"

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.truth = gen.make_cohort(os.path.join(self.work, "cohort"), self.seed, **COHORT)
        self.queries = gen.make_queries(self.truth, self.seed, QUERIES)
        t_gen = time.perf_counter() - t0
        t0 = time.perf_counter()
        tiny = gen.make_cohort(os.path.join(self.work, "warmup"), self.seed, **WARMUP_COHORT)
        lake_dir, status_dir = self.out("warmup-lake"), self.out("warmup-status")
        self.tally.attempt(lambda: (lake_job(self.spark, tiny["paths"], lake_dir, status_dir),
                                    lambda: checks.check_lake(lake_dir, status_dir, tiny)))
        for q in gen.make_queries(tiny, self.seed, WARMUP_QUERIES):
            self.tally.attempt(lambda q=q: self._query(lake_dir, q))
        self.lake_dir = self.out("lake-0")  # the lake queries read
        return {"generate_s": t_gen, "warmup_s": time.perf_counter() - t0}

    def work_items(self) -> int:
        return self.truth["calls"]

    def _check(self, lake_dir: str, status_dir: str):
        """The check of the build; the lake stays for the queries."""
        return _removing(lambda: checks.check_lake(lake_dir, status_dir, self.truth), status_dir)

    def batch(self, i: int):
        lake_dir, status_dir = self.out(f"lake-{i}"), self.out(f"status-{i}")
        lake_job(self.spark, self.truth["paths"], lake_dir, status_dir)
        return None, self._check(lake_dir, status_dir)

    def traced_batch(self, i: int, tr):
        from geniepool_etl_spark import lake, pipeline
        from geniepool_etl_spark.operators import annotate as A
        from geniepool_etl_spark.operators import nest as N
        from geniepool_etl_spark.sources import annotations as S
        from geniepool_etl_spark.sources import vcf as V

        spark, p = self.spark, self.truth["paths"]
        lake_dir, status_dir = self.out(f"lake-{i}"), self.out(f"status-{i}")
        with tr.span("pipeline.build", i):
            lake_df = pipeline.convert_vcfs_to_datalake(
                spark, p["vcf"], p["impact"], p["dbsnp"], False, p["gnomad"], p["alpha"]
            )
        with tr.span("sources.vcf.build", i):
            variants = V.read_mutations(spark, p["vcf"])
        with tr.span("sources.vcf.exec", i):
            vcf_rows = force(variants)["rows"]
        with tr.span("sources.annotations.build", i):
            dims = [S.read_impact(spark, p["impact"]), S.read_dbsnp(spark, p["dbsnp"], False),
                    S.read_gnomad(spark, p["gnomad"]), S.read_alpha(spark, p["alpha"])]
        with tr.span("sources.annotations.exec", i):
            dim_rows = sum(force(d)["rows"] for d in dims)
        with tr.span("operators.annotate.build", i):
            annotated = A.join_alpha(A.join_gnomad(A.join_dbsnp(A.join_impact(
                variants, dims[0]), dims[1]), dims[2]), dims[3])
        with tr.span("operators.annotate.exec", i):
            ann_rows = force(annotated)["rows"]
        with tr.span("operators.nest.build", i):
            nested = N.nest_entries(N.nest_samples(annotated))
        with tr.span("operators.nest.exec", i):
            nest_rows = force(nested)["rows"]
        with tr.span("lake.write", i):
            lake.write_datalake(lake_df, lake_dir)
        with tr.span("pipeline.status", i):
            lake.write_status(pipeline.get_status(spark, p["vcf"]), status_dir)

        s = tr.of(i)
        d = {k: s[k]["end"] - s[k]["start"] for k in s}
        disk = _dir_stats(lake_dir)
        m = {
            "pipeline.build_s": d["pipeline.build"],
            "pipeline.status_s": d["pipeline.status"],
            "sources.vcf.exec_s": d["sources.vcf.exec"],
            "sources.vcf.rows_out": vcf_rows,
            "sources.annotations.exec_s": d["sources.annotations.exec"],
            "sources.annotations.rows_out": dim_rows,
            # the joins' own dimension scans are part of the annotate prefix
            "operators.annotate.self_s": d["operators.annotate.exec"] - d["sources.vcf.exec"],
            "operators.annotate.rows_out": ann_rows,
            "operators.nest.self_s": d["operators.nest.exec"] - d["operators.annotate.exec"],
            "operators.nest.rows_out": nest_rows,
            "operators.nest.fan_in": ann_rows / max(nest_rows, 1),
            "lake.write.self_s": d["lake.write"] - d["operators.nest.exec"],
            "lake.write.files": disk["files"],
            "lake.write.bytes": disk["bytes"],
            "lake.write.partition_dirs": disk["partition_dirs"],
            "lake.write.rows_per_file": nest_rows / max(disk["files"], 1),
            "lake.bytes_per_vcf_byte": disk["bytes"] / self.truth["vcf_bytes"],
        }
        # scheduler counts: prefix layers report their own share
        prefix = [("sources.vcf", ["sources.vcf.exec"]),
                  ("sources.annotations", ["sources.annotations.exec"]),
                  ("operators.annotate", ["operators.annotate.exec", "-sources.vcf.exec"]),
                  ("operators.nest", ["operators.nest.exec", "-operators.annotate.exec"]),
                  ("lake.write", ["lake.write", "-operators.nest.exec"]),
                  ("pipeline", ["pipeline.build", "pipeline.status"])]
        for layer, parts in prefix:
            for c in ("jobs", "tasks", "failed_tasks"):
                m[f"{layer}.{c}"] = sum(-s[p[1:]][c] if p[0] == "-" else s[p][c] for p in parts)
        return m, self._check(lake_dir, status_dir)

    def _query(self, lake_dir: str, q: dict):
        from geniepool_etl_spark import lake

        rows = lake.read_range(self.spark, lake_dir, q["chrom"], q["lo"], q["hi"]).collect()
        return None, (lambda: checks.check_query(rows, q))

    def query(self, i: int):
        return self._query(self.lake_dir, self.queries[i % len(self.queries)])

    def traced_query(self, i: int, tr):
        from geniepool_etl_spark import lake

        q = self.queries[i % len(self.queries)]
        op = f"query-{i}"
        with tr.span("lake.read_datalake", op):
            lake.read_datalake(self.spark, self.lake_dir)
        with tr.span("lake.read_range.build", op):
            df = lake.read_range(self.spark, self.lake_dir, q["chrom"], q["lo"], q["hi"])
        with tr.span("lake.read_range.exec", op):
            rows = df.collect()
        s = tr.of(op)
        m = {
            "lake.read_datalake.ms": 1e3 * (s["lake.read_datalake"]["end"] - s["lake.read_datalake"]["start"]),
            "lake.read_range.build_ms": 1e3 * (s["lake.read_range.build"]["end"] - s["lake.read_range.build"]["start"]),
            "lake.read_range.exec_ms": 1e3 * (s["lake.read_range.exec"]["end"] - s["lake.read_range.exec"]["start"]),
            "lake.read_range.files_read": scan_files_read(df),
            "lake.read_range.files_in_lake": _dir_stats(self.lake_dir)["files"],
            "lake.read_range.rows_returned": len(rows),
        }
        for layer, parts in (("lake.read_datalake", ["lake.read_datalake"]),
                             ("lake.read_range", ["lake.read_range.build", "lake.read_range.exec"])):
            for c in ("jobs", "tasks", "failed_tasks"):
                m[f"{layer}.{c}"] = sum(s[p][c] for p in parts)
        return m, (lambda: checks.check_query(rows, q))


class CorpusCurate(Workload):
    unit = "input docs"

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.docs_dir = os.path.join(self.work, "docs")
        self.truth = gen.make_corpus(self.docs_dir, self.seed, **CORPUS)
        t_gen = time.perf_counter() - t0
        t0 = time.perf_counter()
        tiny_dir, out = os.path.join(self.work, "warmup-docs"), self.out("warmup-curated")
        tiny = gen.make_corpus(tiny_dir, self.seed, **WARMUP_CORPUS)
        self.tally.attempt(lambda: (curate(self.spark, tiny_dir, out),
                                    _removing(lambda: checks.check_corpus(out, tiny), out)))
        return {"generate_s": t_gen, "warmup_s": time.perf_counter() - t0}

    def work_items(self) -> int:
        return self.truth["docs"]

    def batch(self, i: int):
        out = self.out(f"curated-{i}")
        curate(self.spark, self.docs_dir, out)
        return None, _removing(lambda: checks.check_corpus(out, self.truth), out)

    def traced_batch(self, i: int, tr):
        from geniepool_etl_spark.operators import dedup as D
        from geniepool_etl_spark.operators import text as TX

        out = self.out(f"curated-{i}")
        held0 = storage_used_mb(self.spark)
        with tr.span("input.read", i):
            docs = self.spark.read.parquet(self.docs_dir)
        with tr.span("operators.dedup.minhash.build", i):
            pairs = D.minhash_lsh_pairs(docs, num_perm=64, bands=16)
        with tr.span("operators.dedup.minhash.exec", i):
            ps = force(pairs, n=F.count(F.lit(1)), near=F.sum((F.col("est_jaccard") >= 0.5).cast("long")))
        with tr.span("operators.dedup.keep.build", i):
            kept = D.near_dedup_keep(docs, pairs)
        with tr.span("operators.dedup.keep.exec", i):
            force(kept)
        with tr.span("operators.text.perplexity.build", i):
            scores = TX.bigram_surprisal_scores(kept)
        with tr.span("operators.text.perplexity.exec", i):
            scores.write.mode("overwrite").parquet(out)
        s = tr.of(i)
        d = {k: s[k]["end"] - s[k]["start"] for k in s}
        m = {
            "operators.dedup.minhash.build_s": d["operators.dedup.minhash.build"],
            "operators.dedup.minhash.exec_s": d["operators.dedup.minhash.exec"],
            "operators.dedup.candidate_pairs": ps["n"],
            "operators.dedup.pairs_kept_ratio": (ps["near"] or 0) / max(ps["n"], 1),
            "operators.dedup.keep.build_s": d["operators.dedup.keep.build"],
            "operators.dedup.keep.exec_s": d["operators.dedup.keep.exec"],
            "operators.text.perplexity.build_s": d["operators.text.perplexity.build"],
            "operators.text.perplexity.exec_s": d["operators.text.perplexity.exec"],
            "functions.storage_mb_held": storage_used_mb(self.spark) - held0,
        }
        for layer in ("operators.dedup.minhash", "operators.dedup.keep", "operators.text.perplexity"):
            for c in ("jobs", "tasks", "failed_tasks"):
                m[f"{layer}.{c}"] = s[layer + ".build"][c] + s[layer + ".exec"][c]
        return m, _removing(lambda: checks.check_corpus(out, self.truth), out)


WORKLOADS = {"lake": Lake, "corpus_curate": CorpusCurate}
