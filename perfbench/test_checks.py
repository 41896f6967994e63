"""The benchmark's own test: a correct output passes its check, a
corrupted one is counted as a failed operation, a run whose every
operation raises still ends and reports its failures, and the generators
write the same bytes for the same seed.

Run from the root of a checkout (takes about a minute; starts Spark):

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from harness import start_session, stop_session  # noqa: E402
from run import Tally  # noqa: E402
from workloads import curate, lake_job  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = start_session(str(tmp_path_factory.mktemp("work")), 2)
    yield s
    stop_session(s)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, names in sorted(os.walk(root)):
        dirs.sort()
        for n in sorted(names):
            path = os.path.join(d, n)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_same_seed_same_bytes(tmp_path):
    for make, sizes in ((gen.make_cohort, workloads.WARMUP_COHORT), (gen.make_corpus, workloads.WARMUP_CORPUS)):
        a, b, c = (str(tmp_path / f"{make.__name__}-{k}") for k in "abc")
        make(a, 5, **sizes)
        make(b, 5, **sizes)
        make(c, 6, **sizes)
        assert _digest(a) == _digest(b)
        assert _digest(a) != _digest(c)


class _Broken(workloads.Workload):
    """A workload whose every operation raises, as after an engine break."""

    unit = "items"
    queries = [None] * 50

    def setup(self) -> dict:
        return {}

    def work_items(self) -> int:
        return 1

    def batch(self, i):
        raise RuntimeError("engine broken")

    query = batch


def test_run_whose_every_op_raises_ends_and_counts_failures(monkeypatch, capsys, tmp_path):
    monkeypatch.setitem(workloads.WORKLOADS, "broken", _Broken)
    monkeypatch.setattr(harness, "start_session", lambda work, cpus: object())
    monkeypatch.setattr(harness, "stop_session", lambda spark: None)
    monkeypatch.setattr(harness, "jvm_pid", lambda spark: os.getpid())
    assert run.main(["--workload", "broken", "--seed", "1", "--seconds", "1", "--trace", "0"]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # one build and at least MIN_QUERIES queries attempted, every one failed
    assert result["correct"] is False
    assert result["attempted"] == result["failed"] >= 1 + run.MIN_QUERIES


def _counted(tally: Tally, check) -> int:
    """Failures the tally records for one operation with this check."""
    before = tally.failed
    tally.attempt(lambda: (None, check))
    return tally.failed - before


def test_corrupted_lake_and_status_count_as_failed(spark, tmp_path):
    truth = gen.make_cohort(str(tmp_path / "cohort"), 7, n_samples=3, calls_per_sample=300,
                            n_buckets=12, positions_per_bucket=20)
    lake_dir, status_dir = str(tmp_path / "lake"), str(tmp_path / "status")
    lake_job(spark, truth["paths"], lake_dir, status_dir)
    tally = Tally()
    assert _counted(tally, lambda: checks.check_lake(lake_dir, status_dir, truth)) == 0

    # one sample dropped from one entry
    victim = sorted(glob.glob(os.path.join(lake_dir, "*", "*", "*.parquet")))[0]
    t = pq.read_table(victim)
    rows = t.to_pylist()
    entry = next(e for r in rows for e in r["entries"] if e["hom"] or e["het"])
    key = "hom" if entry["hom"] else "het"
    entry[key] = entry[key][1:]
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), victim)
    assert _counted(tally, lambda: checks.check_lake(lake_dir, status_dir, truth)) == 1

    # a whole partition file lost
    os.remove(victim)
    assert _counted(tally, lambda: checks.check_lake(lake_dir, status_dir, truth)) == 1

    # a status record with a wrong sample count, against a fresh lake
    lake_job(spark, truth["paths"], lake_dir + "2", status_dir + "2")
    (status_file,) = glob.glob(os.path.join(status_dir + "2", "*.json"))
    with open(status_file) as f:
        rec = json.loads(f.readline())
    rec["samples_num"] += 1
    with open(status_file, "w") as f:
        f.write(json.dumps(rec) + "\n")
    assert _counted(tally, lambda: checks.check_lake(lake_dir + "2", status_dir + "2", truth)) == 1
    assert (tally.attempted, tally.failed) == (4, 3)


def test_corrupted_query_answer_counts_as_failed(spark, tmp_path):
    from geniepool_etl_spark import lake

    truth = gen.make_cohort(str(tmp_path / "cohort"), 8, n_samples=3, calls_per_sample=300,
                            n_buckets=12, positions_per_bucket=20)
    lake_dir = str(tmp_path / "lake")
    lake_job(spark, truth["paths"], lake_dir, str(tmp_path / "status"))
    q = next(q for q in gen.make_queries(truth, 8, 50) if q["kind"] == "range" and len(q["positions"]) > 1)
    rows = lake.read_range(spark, lake_dir, q["chrom"], q["lo"], q["hi"]).collect()
    tally = Tally()
    assert _counted(tally, lambda: checks.check_query(rows, q)) == 0
    assert _counted(tally, lambda: checks.check_query(rows[1:], q)) == 1


def test_corrupted_corpus_counts_as_failed(spark, tmp_path):
    truth = gen.make_corpus(str(tmp_path / "docs"), 9, n_docs=150, exact_groups=6, near_groups=6)
    out = str(tmp_path / "curated")
    curate(spark, str(tmp_path / "docs"), out)
    tally = Tally()
    assert _counted(tally, lambda: checks.check_corpus(out, truth)) == 0

    (part, *_) = sorted(glob.glob(os.path.join(out, "*.parquet")))
    t = pq.read_table(part)
    rows = t.to_pylist()

    # an off-by-one bigram count on one document
    rows[0]["n_bigrams"] += 1
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), part)
    assert _counted(tally, lambda: checks.check_corpus(out, truth)) == 1
    rows[0]["n_bigrams"] -= 1

    # a second survivor in an exact-duplicate group
    group = truth["exact_groups"][0]
    survivors = set(group) & set(pq.read_table(out).column("doc_id").to_pylist())
    rows.append(dict(rows[0], doc_id=next(d for d in group if d not in survivors)))
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), part)
    assert _counted(tally, lambda: checks.check_corpus(out, truth)) == 1
    assert (tally.attempted, tally.failed) == (3, 2)
