"""Output checks against the generator's ground truth.

Each check reads what the engine wrote with pyarrow (never through the
engine) or takes the rows a query returned, and returns a list of
problems; an empty list means the output is correct.
"""

from __future__ import annotations

import collections
import glob
import json
import math
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from gen import IMPACTS, PARTITION_SIZE


def _diff(problems: list, name: str, got, want) -> None:
    if got != want:
        problems.append(f"{name}: got {got!r}, want {want!r}")


def lake_summary(lake_dir: str) -> dict:
    """Aggregate fingerprint of a written lake, read with pyarrow."""
    t = ds.dataset(lake_dir, format="parquet", partitioning="hive").to_table()
    chrom = t.column("chrom").cast(pa.string())
    pos = t.column("pos").cast(pa.int64())
    bucket = t.column("pos_bucket").cast(pa.int64())
    entries = t.column("entries").combine_chunks()
    e = entries.flatten()
    parent = pc.list_parent_indices(entries)
    e_pos = pc.take(pos, parent)
    hom = pc.list_value_length(e.field("hom")).fill_null(0)
    het = pc.list_value_length(e.field("het")).fill_null(0)
    impact = e.field("impact")
    alpha = e.field("alphamissense")
    gnomad_ac = e.field("gnomad_ac")

    def total(a) -> int:
        return int(pc.sum(a).as_py() or 0)

    return {
        "rows": t.num_rows,
        "pos_sum": total(pos),
        "partition_dirs": len(set(zip(chrom.to_pylist(), bucket.to_pylist()))),
        "bucket_mismatch": total(pc.not_equal(bucket, pc.divide(pos, PARTITION_SIZE))),
        "entries": len(e),
        "hom": total(hom),
        "het": total(het),
        "pos_x_hom": total(pc.multiply(e_pos, hom)),
        "pos_x_het": total(pc.multiply(e_pos, het)),
        "impact": len(e) - impact.null_count,
        "impact_values": set(pc.unique(impact.drop_null()).to_pylist()),
        "dbsnp": len(e) - e.field("dbSNP").null_count,
        "gnomad": len(e) - gnomad_ac.null_count,
        "gnomad_ac_sum": total(gnomad_ac),
        "alpha": len(e) - alpha.null_count,
        "alpha_sum": float(pc.sum(alpha).as_py() or 0.0),
    }


def check_lake(lake_dir: str, status_dir: str, truth: dict) -> list[str]:
    """Lake rows, entries, hom/het sizes, annotation coverage and the status
    row, each against the ground truth."""
    problems: list[str] = []
    s = lake_summary(lake_dir)
    for key in ("rows", "pos_sum", "partition_dirs", "entries", "hom", "het",
                "pos_x_hom", "pos_x_het", "impact", "dbsnp", "gnomad",
                "gnomad_ac_sum", "alpha"):
        _diff(problems, f"lake.{key}", s[key], truth[key])
    _diff(problems, "lake.bucket_mismatch", s["bucket_mismatch"], 0)
    if not s["impact_values"] <= set(IMPACTS):
        problems.append(f"lake.impact values not trimmed: {sorted(s['impact_values'] - set(IMPACTS))}")
    if not math.isclose(s["alpha_sum"], truth["alpha_sum"], rel_tol=1e-9, abs_tol=1e-6):
        problems.append(f"lake.alpha_sum: got {s['alpha_sum']}, want {truth['alpha_sum']}")

    status = []
    for path in sorted(glob.glob(os.path.join(status_dir, "*.json"))):
        with open(path) as f:
            status.extend(json.loads(line) for line in f if line.strip())
    _diff(problems, "status.rows", len(status), 1)
    if status:
        for key, want in truth["status"].items():
            _diff(problems, f"status.{key}", status[0].get(key), want)
        if not status[0].get("update_date"):
            problems.append("status.update_date is empty")
    return problems


def check_query(rows: list, query: dict) -> list[str]:
    """One ``read_range`` answer: its position set and allele count."""
    problems: list[str] = []
    _diff(problems, "query.positions", sorted(r["pos"] for r in rows), query["positions"])
    _diff(problems, "query.alleles", sum(len(r["entries"]) for r in rows), query["alleles"])
    if any(r["chrom"] != query["chrom"] for r in rows):
        problems.append("query returned rows of another chromosome")
    return problems


def expected_scores(kept_words: dict[int, list[str]], scale: int = 10_000) -> dict[int, tuple[int, float]]:
    """Independent per-document ``(n_bigrams, avg_nll)`` under the corpus
    bigram model: ``avg_nll`` is the mean of ``round(ln(N / n(l, r)) *
    scale)`` over a document's bigrams, divided by ``scale``."""
    grams = {d: list(zip(w, w[1:])) for d, w in kept_words.items()}
    counts = collections.Counter(g for gs in grams.values() for g in gs)
    n_total = sum(counts.values())
    out = {}
    for d, gs in grams.items():
        if gs:
            s = sum(round(math.log(n_total / counts[g]) * scale) for g in gs)
            out[d] = (len(gs), round(s / (scale * len(gs)), 4))
    return out


def check_corpus(out_dir: str, truth: dict) -> list[str]:
    """The curated output: one survivor per exact-duplicate group, every
    unique document kept, and per-document bigram statistics that match
    an independent count."""
    problems: list[str] = []
    t = ds.dataset(out_dir, format="parquet").to_table()
    ids = t.column("doc_id").to_pylist()
    kept = set(ids)
    if len(kept) != len(ids):
        problems.append(f"corpus: {len(ids) - len(kept)} duplicate doc ids in the output")
    words = truth["words"]
    if not kept <= words.keys():
        problems.append("corpus: output holds ids that are not in the input")
        return problems
    for g in truth["exact_groups"]:
        n = len(kept.intersection(g))
        if n != 1:
            problems.append(f"corpus: exact-duplicate group {g} kept {n} docs")
            break
    lost = [d for d in truth["unique"] if d not in kept]
    if lost:
        problems.append(f"corpus: {len(lost)} unique docs dropped, e.g. {lost[:3]}")
    for g in truth["near_groups"]:
        if not kept.intersection(g):
            problems.append(f"corpus: near-duplicate group {g} kept no doc")
            break
    want = expected_scores({d: words[d] for d in kept})
    got = dict(zip(ids, zip(t.column("n_bigrams").to_pylist(), t.column("avg_nll").to_pylist())))
    bad_n = [d for d in want if got[d][0] != want[d][0]]
    if bad_n:
        problems.append(f"corpus: n_bigrams differs on {len(bad_n)} docs, e.g. {bad_n[0]}: {got[bad_n[0]][0]} vs {want[bad_n[0]][0]}")
    bad_nll = [d for d in want if abs(got[d][1] - want[d][1]) > 2e-4]
    if bad_nll:
        problems.append(f"corpus: avg_nll differs on {len(bad_nll)} docs, e.g. {bad_nll[0]}")
    return problems
