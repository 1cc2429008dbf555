"""The workloads: how each registers its inputs, runs one
execution through the library's public entry points, and checks that
execution's output outside the timed window.

A workload object is built once per process (``prepare``); ``execute``
is what the benchmark times; ``check`` returns a list of failed
assertions (empty when the output is correct).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F


def _expected(data_dir):
    with open(os.path.join(data_dir, "expected.json")) as fh:
        return json.load(fh)


def _merged_checks(arrays: dict, exp_rows: dict, moved: dict) -> list[str]:
    """Row counts (dst + moved), uuid uniqueness and zero FK orphans
    for every ``fk_pairs`` entry of a merged table set, checked in
    numpy over the key columns (``orphan_check`` semantics: NULL and
    non-positive FKs are not orphans)."""
    import numpy as np

    from beehive_spark.pipeline.specs import fk_pairs

    bad = []
    for t, a in arrays.items():
        n = a.num_rows
        if n != exp_rows[t] + moved[t]:
            bad.append(f"rows:{t}={n}!={exp_rows[t]}+{moved[t]}")
        if "uuid" in a.column_names:
            u = len(set(a.column("uuid").to_pylist()))
            if u != n:
                bad.append(f"uuid-dups:{t}={n - u}")
    for child, fk, parent, ref in fk_pairs(set(arrays)):
        v = arrays[child].column(fk).drop_null().to_numpy()
        v = v[v > 0]
        keys = arrays[parent].column(ref).drop_null().to_numpy()
        n = int((~np.isin(v, keys)).sum())
        if n:
            bad.append(f"orphans:{child}.{fk}={n}")
    return bad


def _key_columns(table: str, columns) -> list[str]:
    from beehive_spark.pipeline.specs import SPEC_BY_NAME

    s = SPEC_BY_NAME[table]
    want = [s.pk, *s.fks, *s.self_fks, "uuid"]
    return [c for c in dict.fromkeys(want) if c in columns]


class Merge:
    """``MergePipeline.run`` over a generated source/destination pair,
    keeping source uuids (the planted collisions make ``uuid_fixpoint``
    iterate) and publishing through the staged publish into ``out_dir``."""

    def prepare(self, spark, data_dir, out_dir):
        # imported here so that module import is set-up, not execution 0
        from beehive_spark.pipeline.merge import MergePipeline  # noqa: F401

        self.spark, self.out_dir = spark, out_dir
        self.exp = _expected(data_dir)

        def side(name):
            d = os.path.join(data_dir, name)
            return {t: spark.read.parquet(os.path.join(d, t)) for t in sorted(os.listdir(d))}

        self.src, self.dst = side("src"), side("dst")
        self.provenance = spark.read.parquet(os.path.join(data_dir, "provenance.parquet"))

    def execute(self, i):
        from beehive_spark.pipeline.merge import MergePipeline

        pipe = MergePipeline(self.spark, generate_new_uuids=False, source_tag=f"site{i}")
        return pipe.run(self.src, self.dst, provenance=self.provenance, out_dir=self.out_dir)

    def check(self, res, i):
        import pyarrow.parquet as pq

        bad = [f"reconcile:{r.table}" for r in res.reconciliations if not r.ok]
        want = self.exp["moved"]
        if res.moved_counts != want:
            diff = {t: (res.moved_counts.get(t), n) for t, n in want.items()
                    if res.moved_counts.get(t) != n}
            bad.append(f"moved:{diff}")
        if res.published_to is None:
            return bad + ["not published"]
        arrays = {t: pq.read_table(os.path.join(res.published_to, t),
                                   columns=_key_columns(t, df.columns))
                  for t, df in res.merged.items()}
        return bad + _merged_checks(arrays, self.exp["rows"]["dst"], want)


class Curate:
    """``curate_corpus`` over a generated corpus with planted fates."""

    def prepare(self, spark, data_dir, out_dir):
        # imported here so that module import is set-up, not execution 0
        from beehive_spark.pipeline.curate import curate_corpus  # noqa: F401

        self.spark, self.data_dir, self.out_dir = spark, data_dir, out_dir
        self.exp = _expected(data_dir)
        spark.read.parquet(os.path.join(data_dir, "documents.parquet")).schema

    def execute(self, i):
        from beehive_spark.pipeline.curate import curate_corpus

        if os.path.exists(self.out_dir):
            shutil.rmtree(self.out_dir)
        return curate_corpus(self.spark, self.data_dir, self.out_dir)

    def check(self, summary, i):
        from beehive_spark.queries.curation import _EMAIL_RE, _PHONE_RE

        e = self.exp
        fates = e["fates"]
        got = {"kept": summary["kept"], "quality": summary["dropped_quality"],
               "exact_dup": summary["dropped_exact_dup"],
               "near_dup": summary["dropped_near_dup"]}
        bad = []
        if summary["n_input"] != e["n_input"] or sum(got.values()) != e["n_input"]:
            bad.append(f"fates do not partition the input: {got}")
        if got != fates:
            bad.append(f"fates {got} != planted {fates}")
        shards = self.spark.read.parquet(os.path.join(self.out_dir, "shards"))
        r = shards.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("ids"),
            F.sum(F.regexp_count("text", F.lit(_EMAIL_RE))
                  + F.regexp_count("text", F.lit(_PHONE_RE))).alias("pii"),
        ).first()
        if summary["shard_rows"] != fates["kept"] or r["n"] != fates["kept"]:
            bad.append(f"shard rows {r['n']} != kept {fates['kept']}")
        if r["ids"] != e["kept_ids_sum"]:
            bad.append("shards hold other documents than the planted survivors")
        if r["pii"]:
            bad.append(f"{r['pii']} unscrubbed PII matches in shards")
        return bad


def make(name):
    return {"merge_publish": Merge, "curate": Curate}[name]()
