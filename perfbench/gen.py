"""Seeded input generators for the paper-path benchmark, with ground truth.

Every generator is a pure function of its seed and sizes: the same seed
writes byte-identical files (gzip members carry no mtime or name, parquet
is written by one pinned pyarrow writer). The engine only ever sees the
files; the returned ground truth is computed here, in plain Python, from
the same draws.

Cohort layout follows FIXTURES.md sections 1-6:

- ``vcf/batch-<b>/hg38/<SAMPLE>.vcf`` or ``.vcf.gz``; the sample id is the
  file name up to the first ``.``;
- ``impact/part-<k>.csv``: tab-separated with a ``CHROM POS REF ALT
  IMPACT`` header, bare (partly lower-case) chromosome names, keys
  repeated across files with whitespace-padded values, multi-word values;
- ``dbsnp/dbsnp.tsv``: headerless body behind a ``#CHROM`` comment line;
- ``gnomad/c<CHROM>_<lo>m_<hi>m.parquet``, half the files without the
  ``hg38_coordinates`` column;
- ``alpha/<chrom>.parquet``: one row per position, the reference base's
  column 0, except a share of rows whose reference column is non-zero
  (the score must come out null).
"""

from __future__ import annotations

import bisect
import gzip
import os
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTITION_SIZE = 100_000  # the lake's pos_bucket width
BASES = "ACGT"
CHROMS = [f"chr{i}" for i in range(1, 23)] + ["chrX"]
# hg38 chromosome lengths in Mb: buckets are split over chromosomes in
# these proportions, the same for every seed. (Spark lists a directory
# with more than 32 subdirectories through an extra Spark job, so a
# seed-dependent split would make lake reads jump between seeds.)
CHROM_MB = [248.9, 242.2, 198.3, 190.2, 181.5, 170.8, 159.3, 145.1, 138.4, 133.8, 135.1, 133.3,
            114.4, 107.0, 102.0, 90.3, 83.3, 80.4, 58.6, 64.4, 46.7, 50.8, 156.0]
# Alternate contig names whose suffix after "_" the reader strips.
SUFFIXED = {"chr1": "chr1_KI270706v1_random", "chr22": "chr22_KI270731v1_random"}
IMPACTS = ["missense", "synonymous", "stop gained", "impact XX test", "splice region"]


def _bare(chrom: str) -> str:
    return chrom[3:]


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _weighted_sample(rng: np.random.Generator, weights: np.ndarray, k: int) -> np.ndarray:
    """k distinct indices drawn with probability proportional to weight
    (Efraimidis-Spirakis keys), returned sorted."""
    keys = np.log(rng.random(len(weights))) / weights
    return np.sort(np.argpartition(-keys, k - 1)[:k])


def make_cohort(
    root: str,
    seed: int,
    n_samples: int,
    calls_per_sample: int,
    n_buckets: int,
    positions_per_bucket: int,
    gz_every: int = 4,
) -> dict:
    """Write a seeded cohort under ``root`` and return its ground truth.

    Positions fill ~``n_buckets`` buckets of ``PARTITION_SIZE`` spread over
    ``CHROMS`` by length; ~15 % of positions carry two or three alternate
    alleles.
    Samples draw ``calls_per_sample`` distinct variants from the shared
    pool with Zipf-like popularity, so samples share variants.
    """
    rng = np.random.default_rng([seed, 1])
    per_chrom = np.maximum(1, np.round(np.array(CHROM_MB) / sum(CHROM_MB) * n_buckets).astype(int))

    # --- the variant pool -------------------------------------------
    pool = []  # (raw_chrom, chrom, pos, ref, alt)
    for chrom, nb in zip(CHROMS, per_chrom):
        n_pos = int(nb) * positions_per_bucket
        pos = np.unique(rng.integers(1, int(nb) * PARTITION_SIZE, size=n_pos))
        n_alts = rng.choice([1, 2, 3], size=len(pos), p=[0.85, 0.12, 0.03])
        refs = rng.integers(0, 4, size=len(pos))
        indel = rng.random(len(pos)) < 0.05
        suffixed = rng.random(len(pos)) < 0.02
        for p, na, r, ind, suf in zip(pos.tolist(), n_alts.tolist(), refs.tolist(), indel.tolist(), suffixed.tolist()):
            ref = BASES[r]
            alts = [BASES[(r + 1 + j) % 4] for j in range(na)]
            if ind:  # a two-base deletion: REF "AG" -> ALT "A"
                ref, alts = ref + BASES[(r + 2) % 4], [ref]
            raw = SUFFIXED.get(chrom, chrom) if suf else chrom
            for alt in alts:
                pool.append((raw, chrom, p, ref, alt))
    n_pool = len(pool)
    rank = rng.permutation(n_pool)
    weights = 1.0 / (rank + 1.0) ** 0.6
    hom_rate = rng.uniform(0.1, 0.6, size=n_pool)

    # --- sample VCFs -------------------------------------------------
    vcf_root = os.path.join(root, "vcf")
    vcf_bytes = 0
    hom = np.zeros(n_pool, dtype=np.int64)
    het = np.zeros(n_pool, dtype=np.int64)
    called = np.zeros(n_pool, dtype=bool)
    order = sorted(range(n_pool), key=lambda i: (CHROMS.index(pool[i][1]), pool[i][2], pool[i][0], pool[i][4]))
    order_of = np.empty(n_pool, dtype=np.int64)
    order_of[order] = np.arange(n_pool)
    k = min(calls_per_sample, n_pool)
    for s in range(n_samples):
        sample = f"SRR{14860000 + s * 37}" + ("-small" if s % 7 == 3 else "")
        batch = os.path.join(vcf_root, f"batch-{s % 2}", "hg38")
        os.makedirs(batch, exist_ok=True)
        picks = _weighted_sample(rng, weights, k)
        picks = picks[np.argsort(order_of[picks])]
        is_hom = rng.random(k) < hom_rate[picks]
        qual = rng.integers(2000, 50000, size=k)
        depth = rng.integers(4, 60, size=k)
        lines = [
            "##fileformat=VCFv4.2",
            "##source=perfbench",
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" + sample,
        ]
        np.add.at(hom, picks[is_hom], 1)
        np.add.at(het, picks[~is_hom], 1)
        called[picks] = True
        for i, h, q, d in zip(picks.tolist(), is_hom.tolist(), qual.tolist(), depth.tolist()):
            raw, _, pos, ref, alt = pool[i]
            if h:
                gt = f"1/1:0,{d}:{d}:{d % 99}:{q // 100},{d},0"
            else:
                a = d // 2
                gt = f"0/1:{d - a},{a}:{d}:{d % 99}:{q // 100},0,{d}"
            lines.append(
                f"{raw}\t{pos}\t.\t{ref}\t{alt}\t{q // 100}.{q % 100:02d}\tPASS\tDP={d}\tGT:AD:DP:GQ:PL\t{gt}"
            )
        text = ("\n".join(lines) + "\n").encode()
        vcf_bytes += len(text)
        if s % gz_every == gz_every - 1:
            with open(os.path.join(batch, sample + ".vcf.gz"), "wb") as f:
                with gzip.GzipFile(filename="", mode="wb", fileobj=f, mtime=0, compresslevel=6) as gz:
                    gz.write(text)
        else:
            with open(os.path.join(batch, sample + ".vcf"), "wb") as f:
                f.write(text)

    # --- annotation tables ------------------------------------------
    idx = np.arange(n_pool)
    in_impact = rng.random(n_pool) < 0.3
    in_dbsnp = rng.random(n_pool) < 0.5
    in_gnomad = rng.random(n_pool) < 0.4
    impact_of = {}
    impact_rows = [[], []]
    for i in idx[in_impact].tolist():
        raw, chrom, pos, ref, alt = pool[i]
        val = IMPACTS[int(rng.integers(len(IMPACTS)))]
        impact_of[i] = val
        bare = _bare(chrom)
        bare = bare.lower() if rng.random() < 0.5 else bare
        impact_rows[0].append(f"{bare}\t{pos}\t{ref}\t{alt}\t{val}")
        if rng.random() < 0.1:  # the same key again, padded, in the other file
            impact_rows[1].append(f"{bare}\t{pos}\t{ref}\t{alt}\t  {val} ")
    impact_dir = os.path.join(root, "impact")
    os.makedirs(impact_dir, exist_ok=True)
    for part, rows in enumerate(impact_rows):
        with open(os.path.join(impact_dir, f"part-{part}.csv"), "w") as f:
            f.write("CHROM\tPOS\tREF\tALT\tIMPACT\n" + "".join(r + "\n" for r in rows))

    dbsnp_dir = os.path.join(root, "dbsnp")
    os.makedirs(dbsnp_dir, exist_ok=True)
    with open(os.path.join(dbsnp_dir, "dbsnp.tsv"), "w") as f:
        f.write("#CHROM\tPOS\tREF\tALT\tID\n")
        for i in idx[in_dbsnp].tolist():
            _, chrom, pos, ref, alt = pool[i]
            f.write(f"{_bare(chrom)}\t{pos}\t{ref}\t{alt}\trs{1000000 + i}\n")

    gnomad_dir = os.path.join(root, "gnomad")
    os.makedirs(gnomad_dir, exist_ok=True)
    gnomad_ac = {}
    by_chrom = defaultdict(list)
    for i in idx[in_gnomad].tolist():
        by_chrom[pool[i][1]].append(i)
    for c, (chrom, members) in enumerate(sorted(by_chrom.items(), key=lambda kv: CHROMS.index(kv[0]))):
        an = rng.integers(1000, 150000, size=len(members))
        ac = (an * rng.random(len(members)) * 0.2).astype(np.int64)
        cols = {
            "POS": pa.array([pool[i][2] for i in members], pa.int64()),
            "REF": pa.array([pool[i][3] for i in members]),
            "ALT": pa.array([pool[i][4] for i in members]),
            "gnomad_an": pa.array(an, pa.int64()),
            "gnomad_ac": pa.array(ac, pa.int64()),
            "gnomad_nhomalt": pa.array(ac // 10, pa.int64()),
        }
        if c % 2 == 0:
            cols["hg38_coordinates"] = pa.array([f"{pool[i][1]}:{pool[i][2] + 17}" for i in members])
        gnomad_ac.update(zip(members, ac.tolist()))
        hi_mb = max(pool[i][2] for i in members) // 1_000_000 + 1
        _write_parquet(pa.table(cols), os.path.join(gnomad_dir, f"c{_bare(chrom)}_0m_{hi_mb}m.parquet"))

    # AlphaMissense: one row per position (the first allele's ref base),
    # a share of rows with a non-zero reference column, plus positions
    # absent from the pool.
    alpha_dir = os.path.join(root, "alpha")
    os.makedirs(alpha_dir, exist_ok=True)
    alpha_at = {}  # (chrom, pos) -> {base: score}
    first_ref = {}
    for _, chrom, pos, ref, _ in pool:
        first_ref.setdefault((chrom, pos), ref)
    alpha_rows = defaultdict(list)
    for (chrom, pos), ref in first_ref.items():
        if rng.random() >= 0.6:
            continue
        scores = {b: round(float(rng.random()), 4) for b in BASES}
        if ref in BASES:
            scores[ref] = 0.0 if rng.random() < 0.9 else 0.05
        alpha_at[(chrom, pos)] = scores
        alpha_rows[chrom].append((pos, scores))
    for chrom in CHROMS:
        extra = rng.integers(1, 3 * PARTITION_SIZE, size=20)
        for p in extra:
            if (chrom, int(p)) not in first_ref:
                alpha_rows[chrom].append((int(p), {b: 0.5 for b in BASES}))
    for chrom, rows in alpha_rows.items():
        rows.sort()
        cols = {"POS": pa.array([p for p, _ in rows], pa.int64())}
        for b in BASES:
            cols[b] = pa.array([s[b] for _, s in rows], pa.float64())
        name = _bare(chrom).lower() if chrom == "chrX" else _bare(chrom)
        _write_parquet(pa.table(cols), os.path.join(alpha_dir, f"{name}.parquet"))

    # --- ground truth ------------------------------------------------
    rows = set()
    raw_coords, raw_muts = set(), set()
    entries = defaultdict(int)  # (chrom, pos) -> allele count
    t = defaultdict(int)
    alpha_sum = 0.0
    hom, het, in_dbsnp = hom.tolist(), het.tolist(), in_dbsnp.tolist()
    for i in idx[called].tolist():
        raw, chrom, pos, ref, alt = pool[i]
        rows.add((chrom, pos))
        raw_coords.add((raw, pos))
        raw_muts.add((raw, pos, ref, alt))
        entries[(chrom, pos)] += 1
        t["entries"] += 1
        t["hom"] += hom[i]
        t["het"] += het[i]
        t["pos_x_hom"] += pos * hom[i]
        t["pos_x_het"] += pos * het[i]
        t["impact"] += i in impact_of
        t["dbsnp"] += in_dbsnp[i]
        t["gnomad"] += i in gnomad_ac
        t["gnomad_ac_sum"] += gnomad_ac.get(i, 0)
        s = alpha_at.get((chrom, pos))
        if s is not None and ref in BASES and alt in BASES and s[ref] == 0:
            t["alpha"] += 1
            alpha_sum += s[alt]
    positions = defaultdict(list)
    for chrom, pos in rows:
        positions[chrom].append(pos)
    for v in positions.values():
        v.sort()
    return {
        "rows": len(rows),
        "pos_sum": sum(p for _, p in rows),
        "partition_dirs": len({(c, p // PARTITION_SIZE) for c, p in rows}),
        **dict(t),
        "alpha_sum": alpha_sum,
        "status": {
            "coordinates_num": len(raw_coords),
            "mutations_num": len(raw_muts),
            "samples_num": n_samples,
        },
        "calls": n_samples * k,
        "vcf_bytes": vcf_bytes,
        "positions": dict(positions),
        "alleles_at": dict(entries),
        "paths": {
            "vcf": os.path.join(vcf_root, "batch-*", "hg38", "*.vcf*"),
            "impact": impact_dir,
            "dbsnp": os.path.join(dbsnp_dir, "dbsnp.tsv"),
            "gnomad": gnomad_dir,
            "alpha": alpha_dir,
        },
    }


# Query kinds in a fixed rotation, so that every run's first queries hold
# the same mix whatever the seed.
QUERY_KINDS = ("hit", "miss", "range", "hit", "range", "miss", "hit", "hit", "miss", "range")


def make_queries(truth: dict, seed: int, n: int) -> list[dict]:
    """A seeded list of ``read_range`` queries with their expected answers:
    40 % point lookups on called positions, 30 % point misses, 30 % ranges
    of 1-100 kb placed across a bucket boundary."""
    rng = np.random.default_rng([seed, 2])
    positions = truth["positions"]
    chroms = sorted(positions, key=CHROMS.index)
    out = []
    for q in range(n):
        chrom = chroms[int(rng.integers(len(chroms)))]
        ps = positions[chrom]
        kind = QUERY_KINDS[q % len(QUERY_KINDS)]
        if kind == "hit":
            lo = hi = ps[int(rng.integers(len(ps)))]
        elif kind == "miss":
            while True:
                lo = hi = int(rng.integers(1, ps[-1] + 1))
                j = bisect.bisect_left(ps, lo)
                if j == len(ps) or ps[j] != lo:
                    break
        else:
            width = int(rng.integers(1_000, 100_001))
            edge = int(rng.integers(1, ps[-1] // PARTITION_SIZE + 2)) * PARTITION_SIZE
            lo = max(1, edge - int(rng.integers(1, width)))
            hi = lo + width - 1
        a, b = bisect.bisect_left(ps, lo), bisect.bisect_right(ps, hi)
        expect = ps[a:b]
        out.append({
            "kind": kind, "chrom": chrom, "lo": lo, "hi": hi,
            "positions": expect,
            "alleles": sum(truth["alleles_at"][(chrom, p)] for p in expect),
        })
    return out


# The corpus follows the LLM-data testdata table ``documents.parquet`` at
# scale factor 0.1, measured once with pyarrow (5 000 docs, 270 704
# whitespace-separated words): every word comes from the 31 below, drawn
# near-uniformly (each word 8 900-9 200 times; a Zipf fit over the ranks
# gives s = 0.16); document lengths run uniformly from 10 to 100 words
# (mean 54.1); 16 docs (0.3 %) sit in 8 exact-duplicate pairs.
DOC_WORDS = ("a agg batch big column customer data dup fast filter group hash join key line merge "
             "order part query row scan slow small sort spark stream table the value vector window").split()
DOC_WORDS_MIN, DOC_WORDS_MAX = 10, 100


def make_corpus(
    root: str,
    seed: int,
    n_docs: int,
    exact_groups: int,
    near_groups: int,
    n_files: int = 4,
) -> dict:
    """Write a seeded corpus ``(doc_id BIGINT, text STRING)`` as parquet and
    return its ground truth: the planted exact-duplicate groups (identical
    text), near-duplicate groups (a base document and copies with ~8 % of
    words substituted) and the ids of unique documents, plus every
    document's word list. Words and lengths follow ``DOC_WORDS`` and
    ``DOC_WORDS_MIN``..``DOC_WORDS_MAX``."""
    rng = np.random.default_rng([seed, 3])
    n_vocab = len(DOC_WORDS)

    def doc() -> list[str]:
        n = int(rng.integers(DOC_WORDS_MIN, DOC_WORDS_MAX + 1))
        return [DOC_WORDS[int(j)] for j in rng.integers(0, n_vocab, size=n)]

    texts, groups_exact, groups_near = [], [], []
    for _ in range(exact_groups):
        w = doc()
        size = int(rng.integers(2, 5))
        groups_exact.append(list(range(len(texts), len(texts) + size)))
        texts.extend([w] * size)
    for _ in range(near_groups):
        w = doc()
        size = int(rng.integers(2, 4))
        members = [w]
        for _ in range(size - 1):
            v = list(w)
            for j in np.flatnonzero(rng.random(len(v)) < 0.08):
                v[int(j)] = DOC_WORDS[int(rng.integers(n_vocab))]
            members.append(v)
        groups_near.append(list(range(len(texts), len(texts) + size)))
        texts.extend(members)
    n_planted = len(texts)
    while len(texts) < n_docs:
        texts.append(doc())
    ids = rng.permutation(len(texts)).astype(np.int64) * 3 + 11  # ids not in row order
    order = np.argsort(ids)
    os.makedirs(root, exist_ok=True)
    for f in range(n_files):
        sel = order[f::n_files]
        _write_parquet(
            pa.table({
                "doc_id": pa.array(ids[sel], pa.int64()),
                "text": pa.array([" ".join(texts[i]) for i in sel]),
            }),
            os.path.join(root, f"part-{f}.parquet"),
        )
    return {
        "docs": len(texts),
        "exact_groups": [[int(ids[i]) for i in g] for g in groups_exact],
        "near_groups": [[int(ids[i]) for i in g] for g in groups_near],
        "unique": [int(ids[i]) for i in range(n_planted, len(texts))],
        "words": {int(ids[i]): texts[i] for i in range(len(texts))},
    }
