"""Seeded input generators for the perfbench workloads.

Run as its own process so that no generation work warms the JVM that
is later measured:

    python3 perfbench/gen.py --workload merge_publish --seed 7 --out DIR

Each generator writes parquet tables with pyarrow (no Spark) plus
``expected.json``, the counts the output checks compare against.  The
same (workload, seed) always produces byte-identical tables.

- merge pair (``src/`` and ``dst/``): an OpenMRS-shaped instance pair
  of ``users``, ``person`` and ``obs`` (schemas as in
  ``beehive_spark.pipeline.specs``), with the fixture properties the
  merge gates exist for: admin/daemon users on both sides (the source
  admin is not user 1), users matched by (system_id, username) or by
  uuid, uuid collisions, forward self-FK references in ``obs``, and a
  creator chain more than three users deep.
- curate corpus (``documents.parquet``): documents shaped like the
  repository's test-data ``documents`` table (doc_id, text, lang, source, n_chars)
  with planted exact duplicates, near-duplicate clusters, PII and
  quality failures.  The expected fates are recomputed by a pure-Python
  replica of the curation rules and must agree with the plant.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload.  BENCHMARK.json and README.md record the
# row counts these produce.
SIZES = {
    "merge_publish": {"persons": 2000, "obs": 25000},
    "curate": {"docs": 800},
}

EPOCH_US = 1_577_836_800_000_000  # 2020-01-01 00:00:00 UTC
DAY_US = 86_400_000_000


def _ts(rng, n, null_frac=0.0):
    v = EPOCH_US + rng.integers(0, 900, n) * DAY_US + rng.integers(0, DAY_US, n)
    arr = pa.array(v, type=pa.timestamp("us"))
    if null_frac:
        mask = rng.random(n) < null_frac
        arr = pa.array(np.where(mask, None, v).tolist(), type=pa.timestamp("us"))
    return arr


def _ids(values, null_mask=None):
    v = np.asarray(values, dtype=np.int64)
    if null_mask is None:
        return pa.array(v, type=pa.int64())
    return pa.array(v, type=pa.int64(), mask=np.asarray(null_mask, dtype=bool))


def _uuids(tag, table, n):
    return pa.array([f"{tag}-{table}-{i:010d}" for i in range(1, n + 1)])


def _audit_v(rng, n, users):
    """The voidable audit column group (creator, date_created,
    changed_by, voided, voided_by)."""
    changed = rng.random(n) < 0.2
    return {
        "creator": _ids(rng.choice(users, n)),
        "date_created": _ts(rng, n),
        "changed_by": _ids(rng.choice(users, n), ~changed),
        "voided": pa.array(np.zeros(n, dtype=bool)),
        "voided_by": _ids(np.zeros(n), np.ones(n, dtype=bool)),
    }


def _merge_side(rng, tag, size, dst_users=None):
    """One OpenMRS instance: users, person, obs.
    ``dst_users`` (the destination's users table as python lists) is
    given when building the source side, so the source can plant its
    overlaps against it."""
    P, O = size["persons"], size["obs"]
    U = max(24, P // 50)
    t = {}

    # users: 1 = admin/sysop, plus admin and daemon; a creator chain
    user_ids = np.arange(1, U + 1)
    sys_id = [f"{tag}sys{i}" for i in user_ids]
    uname = [f"{tag}user{i}" for i in user_ids]
    uuid_u = [f"{tag}-users-{i:010d}" for i in user_ids]
    if dst_users is None:
        sys_id[0], uname[0] = "admin", "admin"
        sys_id[1], uname[1] = "daemon", "daemon"
        creators = np.ones(U, dtype=np.int64)
    else:
        # source admin is user 2 (user 1 is excluded by id alone)
        sys_id[0], uname[0] = "sysop", "sysop"
        sys_id[1], uname[1] = "admin", "admin"
        sys_id[2], uname[2] = "daemon", "daemon"
        creators = np.full(U, 2, dtype=np.int64)
        # users 4..7 share (system_id, username) with dst users 4..7;
        # users 8..10 share a uuid with dst users 8..10
        for i in range(3, 7):
            sys_id[i], uname[i] = dst_users["system_id"][i], dst_users["username"][i]
        for i in range(7, 10):
            uuid_u[i] = dst_users["uuid"][i]
    # creator chain: user k was created by user k-1 for k in 12..18
    for k in range(12, 19):
        creators[k - 1] = k - 1
    t["users"] = pa.table({
        "user_id": _ids(user_ids),
        "system_id": pa.array(sys_id),
        "username": pa.array(uname),
        "person_id": _ids(user_ids),
        "creator": _ids(creators),
        "date_created": _ts(rng, U),
        "changed_by": _ids(np.ones(U), np.ones(U, dtype=bool)),
        "retired": pa.array(np.zeros(U, dtype=bool)),
        "retired_by": _ids(np.zeros(U), np.ones(U, dtype=bool)),
        "uuid": pa.array(uuid_u),
    })

    pid = np.arange(1, P + 1)
    pers = {
        "person_id": _ids(pid),
        "gender": pa.array(rng.choice(["M", "F"], P).tolist()),
        "birthdate": _ts(rng, P, null_frac=0.3),
        "dead": pa.array(rng.random(P) < 0.02),
    }
    pers.update(_audit_v(rng, P, user_ids))
    pers["uuid"] = _uuids(tag, "person", P)
    t["person"] = pa.table(pers)

    # obs: eight per encounter, each encounter of one non-user person;
    # forward self-FKs: obs i groups under i+1 (every 7th), revises i+2
    # (every 11th)
    oid = np.arange(1, O + 1)
    o_enc = (oid - 1) // 8 + 1
    o_pers = rng.choice(pid[U:], int(o_enc[-1]))[o_enc - 1]
    grp_null = ~((oid % 7 == 1) & (oid + 1 <= O))
    prev_null = ~((oid % 11 == 1) & (oid + 2 <= O))
    t["obs"] = pa.table({
        "obs_id": _ids(oid),
        "person_id": _ids(o_pers),
        "concept_id": _ids(rng.integers(1, 5000, O)),
        "encounter_id": _ids(o_enc),
        "order_id": _ids(np.zeros(O), np.ones(O, dtype=bool)),
        "obs_datetime": _ts(rng, O),
        "location_id": _ids(rng.integers(1, 40, O), rng.random(O) < 0.05),
        "obs_group_id": _ids(oid + 1, grp_null),
        "value_coded": _ids(rng.integers(1, 5000, O), rng.random(O) < 0.5),
        "value_numeric": pa.array(np.round(rng.random(O) * 200, 2)),
        "previous_version": _ids(oid + 2, prev_null),
        "creator": _ids(rng.choice(user_ids, O)),
        "date_created": _ts(rng, O),
        "voided": pa.array(np.zeros(O, dtype=bool)),
        "voided_by": _ids(np.zeros(O), np.ones(O, dtype=bool)),
        "uuid": _uuids(tag, "obs", O),
    })
    return t


def _plant_uuid_collisions(src, dst, table, k, rng):
    """Give ``k`` source rows of ``table`` a uuid that exists in dst."""
    s = src[table]
    n = s.num_rows
    u = s.column("uuid").to_pylist()
    du = dst[table].column("uuid").to_pylist()
    rows = rng.choice(np.arange(n // 2, n), k, replace=False)
    targets = rng.choice(len(du), k, replace=False)
    for r, d in zip(rows, targets):
        u[int(r)] = du[int(d)]
    src[table] = s.set_column(s.schema.get_field_index("uuid"), "uuid", pa.array(u))


def gen_merge(seed, size):
    rng = np.random.default_rng(seed)
    dst = _merge_side(rng, "d", size)
    du = {c: dst["users"].column(c).to_pylist() for c in ("system_id", "username", "uuid")}
    src = _merge_side(rng, "s", size, dst_users=du)
    for table, k in (("person", 6), ("obs", 12)):
        _plant_uuid_collisions(src, dst, table, k, rng)

    excluded = 3          # src users 1 (id), 2 (admin), 3 (daemon)
    by_name = 4
    n = {side: {k: v.num_rows for k, v in d.items()} for side, d in (("src", src), ("dst", dst))}
    moved = dict(n["src"])
    # the uuid gate rewrites the uuid-matched users' uuids before the
    # user pre-match, so only the excluded and name-matched users (and
    # their persons) stay behind
    moved["users"] = n["src"]["users"] - excluded - by_name
    moved["person"] = n["src"]["person"] - excluded - by_name
    expected = {"rows": n, "moved": moved}
    provenance = pa.table({"source": pa.array(["legacy_east", "legacy_west"])})
    return {"src": src, "dst": dst, "provenance": provenance}, expected


# ---------------------------------------------------------------------------
# curate corpus
# ---------------------------------------------------------------------------

_STOP = ["the", "a", "and", "of", "to"]
_TOKEN_RE = re.compile(r"[a-z0-9]+")


def _vocab(rng, n):
    letters = np.array(list("bcdfghjklmnprstvwz"))
    vowels = np.array(list("aeiou"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        w = "".join(letters[rng.integers(0, len(letters))] + vowels[rng.integers(0, 5)]
                    for _ in range(k))
        words.add(w)
    return sorted(words)


def _shingles(text):
    w = _TOKEN_RE.findall(text.lower())
    return {(w[i], w[i + 1], w[i + 2]) for i in range(len(w) - 2)}


def expected_fates(texts):
    """Pure-Python replica of ``curation_fate``'s first-failing-stage
    attribution (quality gate -> exact fingerprint dedup -> near-dup
    min-label clusters over word-3-gram Jaccard >= 0.5).  Returns the
    fate per doc id (``quality``, ``exact_dup``, ``near_dup``, ``kept``)."""
    n = len(texts)
    quality_ok = []
    for t in texts:
        w = _TOKEN_RE.findall(t.lower())
        nt = len(w)
        stop = sum(1 for x in w if x in _STOP) / max(nt, 1)
        dist = len(set(w)) / max(nt, 1)
        quality_ok.append(nt >= 25 and stop >= 0.02 and dist >= 0.35)
    fate = ["quality" if not q else None for q in quality_ok]
    canon = {}
    for i, t in enumerate(texts):
        if fate[i]:
            continue
        fp = " ".join(t.lower().strip().split())
        if fp in canon:
            fate[i] = "exact_dup"
        else:
            canon[fp] = i
    # near-dup pairs over ALL docs (dedup_clusters sees the whole corpus)
    sh = [_shingles(t) for t in texts]
    index = {}
    for i, s in enumerate(sh):
        for g in s:
            index.setdefault(g, []).append(i)
    cands = set()
    for docs in index.values():
        if 2 <= len(docs) <= 100:
            for a in range(len(docs)):
                for b in range(a + 1, len(docs)):
                    cands.add((docs[a], docs[b]))
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in cands:
        inter = len(sh[i] & sh[j])
        if inter / (len(sh[i]) + len(sh[j]) - inter) >= 0.5:
            a, b = find(i), find(j)
            if a != b:
                parent[max(a, b)] = min(a, b)
    clusters = {}
    for i in range(n):
        clusters.setdefault(find(i), []).append(i)
    for members in clusters.values():
        alive = [i for i in members if fate[i] is None]
        if len(members) > 1 and alive:
            keep = min(alive)
            for i in alive:
                if i != keep:
                    fate[i] = "near_dup"
    return ["kept" if f is None else f for f in fate]


def gen_curate(seed, size):
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 3000)
    probs = 1.0 / np.arange(1, len(vocab) + 1) ** 0.6
    probs /= probs.sum()
    n = size["docs"]

    def body(k):
        words = list(rng.choice(vocab, k, p=probs))
        for pos in rng.choice(k, max(2, k // 12), replace=False):
            words[int(pos)] = _STOP[int(rng.integers(0, 5))]
        return words

    texts = [None] * n
    plant = ["kept"] * n
    order = rng.permutation(n)
    n_exact, n_cluster, n_quality = n // 20, n // 40, n // 12
    slots = iter(order.tolist())
    # near-dup clusters of 3-5 docs: a base and edited copies
    for _ in range(n_cluster):
        k = int(rng.integers(3, 6))
        base = body(int(rng.integers(70, 140)))
        members = sorted(next(slots) for _ in range(k))
        for j, m in enumerate(members):
            w = list(base)
            if j:
                for pos in rng.choice(len(w), 2, replace=False):
                    w[int(pos)] = vocab[int(rng.integers(0, len(vocab)))]
            texts[m] = " ".join(w)
            plant[m] = "kept" if j == 0 else "near_dup"
    # exact duplicates: same text up to case and whitespace
    for _ in range(n_exact):
        a, b = sorted((next(slots), next(slots)))
        w = body(int(rng.integers(40, 120)))
        texts[a] = " ".join(w)
        texts[b] = "  " + " ".join(w).upper().replace(" ", "   ", 3) + " "
        plant[b] = "exact_dup"
    # quality failures: too short, no stopwords, repetitive
    for q in range(n_quality):
        m = next(slots)
        kind = q % 3
        if kind == 0:
            texts[m] = " ".join(body(int(rng.integers(5, 20))))
        elif kind == 1:
            texts[m] = " ".join(w for w in body(60) if w not in _STOP)
        else:
            texts[m] = " ".join(["lorem", "ipsum", "dolor", "the"] * 15)
        plant[m] = "quality"
    # the rest: unique documents, a fifth of them carrying PII
    n_email = n_phone = 0
    for m in slots:
        w = body(int(rng.integers(40, 160)))
        r = rng.random()
        if r < 0.1:
            w.insert(int(rng.integers(0, len(w))), f"user{m}@mail{m % 7}.example.org")
            n_email += 1
        elif r < 0.2:
            w.insert(int(rng.integers(0, len(w))), f"555-{m % 1000:03d}-{m % 9000 + 1000}")
            n_phone += 1
        texts[m] = " ".join(w)
    fates = expected_fates(texts)
    if fates != plant:
        bad = sum(1 for a, b in zip(fates, plant) if a != b)
        raise RuntimeError(f"curate plant disagrees with the replica on {bad} docs")
    langs = np.array(["en", "es", "de", "fr", "zh"])
    table = pa.table({
        "doc_id": _ids(np.arange(n)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, 5, n)].tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": _ids([len(x) for x in texts]),
    })
    counts = {f: plant.count(f) for f in ("kept", "quality", "exact_dup", "near_dup")}
    expected = {"n_input": n, "fates": counts, "pii_kept": n_email + n_phone,
                "kept_ids_sum": int(sum(i for i, f in enumerate(plant) if f == "kept"))}
    return {"documents": table}, expected


GENERATORS = {"merge_publish": gen_merge, "curate": gen_curate}


def write(tables, out):
    for name, t in tables.items():
        if isinstance(t, dict):
            for sub, tt in t.items():
                d = os.path.join(out, name, sub)
                os.makedirs(d, exist_ok=True)
                pq.write_table(tt, os.path.join(d, "part-0.parquet"))
        else:
            os.makedirs(out, exist_ok=True)
            pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def generate(workload, seed, out):
    """Generate ``workload``'s inputs for ``seed`` into ``out`` (atomic:
    written to a sibling temp dir, then renamed)."""
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    tables, expected = GENERATORS[workload](seed, SIZES[workload])
    write(tables, tmp)
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(expected, fh, sort_keys=True)
    os.replace(tmp, out)
    return expected


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    generate(a.workload, a.seed, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
