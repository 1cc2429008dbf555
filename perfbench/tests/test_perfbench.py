"""Tests for the benchmark's own code.

    python -m pytest perfbench/tests -q -p no:cacheprovider

The generator tests need no Spark.  The planted-defect tests run the
measured loop on a local SparkSession with one library function
patched to lose one row, and require ``ok_frac`` to drop below 1.
"""

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import gen  # noqa: E402
import run  # noqa: E402


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic(tmp_path, workload):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate(workload, 5, a)
    gen.generate(workload, 5, b)
    gen.generate(workload, 6, c)
    files = _files(a)
    assert files and files == _files(b)
    _match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _match, mismatch, _errors = filecmp.cmpfiles(a, c, files, shallow=False)
    assert mismatch, "another seed must give other inputs"


def test_curate_plant_matches_replica(tmp_path):
    exp = gen.generate("curate", 3, str(tmp_path / "c"))
    assert sum(exp["fates"].values()) == exp["n_input"]
    assert all(exp["fates"][f] > 0 for f in ("kept", "quality", "exact_dup", "near_dup"))


def test_replica_attributes_first_failing_stage():
    base = " ".join(f"w{i} the" for i in range(30))
    texts = [base, base.upper(), base.replace("w3 ", "x3 "), "too short"]
    assert gen.expected_fates(texts) == ["kept", "exact_dup", "near_dup", "quality"]


def test_end_to_end_counts_failed_executions():
    ok = {"wall_s": 2.0, "cpu_s": 4.0, "jobs": 10, "retained_mb": 1.0, "failures": [],
          "warm": True}
    bad = dict(ok, failures=["rows:obs"])
    m = run.end_to_end([dict(ok, warm=False), ok, bad], 1.5)
    assert m["ok_frac"] == pytest.approx(2 / 3)
    assert m["run_s"] == 2.0 and m["setup_s"] == 1.5


def test_end_to_end_skips_warm_up_executions():
    cold = {"wall_s": 9.0, "cpu_s": 20.0, "jobs": 12, "retained_mb": 1.0, "failures": [],
            "warm": False}
    warm = [dict(cold, wall_s=w, cpu_s=2 * w, jobs=10, warm=True) for w in (3.0, 5.0)]
    m = run.end_to_end([cold, dict(cold, wall_s=7.0), *warm], 1.0)
    assert m["first_s"] == 9.0
    assert m["run_s"] == 4.0 and m["cpu_s"] == 8.0 and m["spark_jobs"] == 10


# ---------------------------------------------------------------------------
# planted defects (Spark)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import worker
    from beehive_spark.session import get_spark

    work = str(tmp_path_factory.mktemp("spark"))
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf=worker.spark_conf(work, False))
    yield s
    s.stop()


def _ok_frac(spark, workload, data, out):
    import workloads
    from worker import measure

    wl = workloads.make(workload)
    wl.prepare(spark, data, out)
    res = measure(spark, wl, warmup=0, measured=1)
    execs = res["executions"]
    assert [e["warm"] for e in execs] == [False, True]
    return run.end_to_end(execs, 0.0)["ok_frac"], execs


@pytest.fixture(scope="module")
def merge_data(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("merge") / "data")
    gen.generate("merge_publish", 11, d)
    return d


@pytest.fixture(scope="module")
def curate_data(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("curate") / "data")
    gen.generate("curate", 11, d)
    return d


def test_merge_checks_pass(spark, merge_data, tmp_path):
    frac, execs = _ok_frac(spark, "merge_publish", merge_data, str(tmp_path / "out"))
    assert frac == 1.0, [e["failures"] for e in execs]


def test_merge_dropped_moved_row_lowers_ok_frac(spark, merge_data, tmp_path, monkeypatch):
    from beehive_spark.pipeline.merge import MergePipeline

    orig = MergePipeline.transform_table

    def lose_one_obs(self, spec, *a, **k):
        rows = orig(self, spec, *a, **k)
        if spec.name == "obs":
            first = rows.agg({spec.pk: "min"}).first()[0]
            rows = rows.filter(rows[spec.pk] != first)
        return rows

    monkeypatch.setattr(MergePipeline, "transform_table", lose_one_obs)
    frac, execs = _ok_frac(spark, "merge_publish", merge_data, str(tmp_path / "out"))
    assert frac < 1.0
    assert any("obs" in f for e in execs for f in e["failures"])


def test_curate_checks_pass(spark, curate_data, tmp_path):
    frac, execs = _ok_frac(spark, "curate", curate_data, str(tmp_path / "out"))
    assert frac == 1.0, [e["failures"] for e in execs]


def test_curate_dropped_survivor_lowers_ok_frac(spark, curate_data, tmp_path, monkeypatch):
    import beehive_spark.pipeline.curate as curate

    orig = curate.export_training_shards

    def lose_one_survivor(df, *a, **k):
        first = df.agg({"doc_id": "min"}).first()[0]
        return orig(df.filter(df["doc_id"] != first), *a, **k)

    monkeypatch.setattr(curate, "export_training_shards", lose_one_survivor)
    frac, execs = _ok_frac(spark, "curate", curate_data, str(tmp_path / "out"))
    assert frac < 1.0


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run._per_layer_names()
