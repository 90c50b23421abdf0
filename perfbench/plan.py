"""Workload definitions and the seeded generators that turn a workload and a
seed into the plan the JVM harness executes.

The fixture itself is fixed (fixture.py, seed 42); the workload seed picks
only the op order of the query workloads and the base slice, drops,
duplicates and deletes of the ingest workload.
"""
import random

# A query workload runs whole rounds over `ops`, each round in a fresh
# seeded order; every op is checked against its DuckDB oracle first.
WORKLOADS = {
    "board": {
        "kind": "queries",
        # 12 of the 184 names whose traced sweep matched the full board's
        # per-query profile: build share, jobs and compiles per query and
        # executor busy share within 4% each on this fixture (README,
        # "Choice of the board ops"). q117 and q85 were kept in for the two
        # graft.plans execs (RangeJoinExec, AsOfJoin).
        "ops": ["q103_bucketed_range_join", "q107_snapshot_diff", "q10_latest_perkey",
                "q117_interval_join_exec", "q123_linear_classifier", "q15_cogroup",
                "q44_wordcount_lang", "q78_dedup_decision", "q85_asof_operator",
                "q87_semdedup", "q95_bigram_lift", "q97_funnel"],
    },
    "ingest": {
        "kind": "ingest",
        "base": 500,
        "fresh": 30,
        "dups": 6,
        "dels": 4,
    },
}

# ids of the duplicate docs an ingest plan adds; far above any fixture id
DUP_ID_BASE = 10 ** 9
# ivfCentroids and pqCodebook freeze the IVFPQ model from the base vectors
# with vec_id < 8 and < 16, so every ingest base holds those ids
MODEL_IDS = 16


def rounds(ops, seed, n):
    """n rounds over ops, each in its own order drawn from seed."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        r = list(ops)
        rng.shuffle(r)
        out.append(r)
    return out


def _root(text):
    while text.endswith(" dup"):
        text = text[:-4]
    return text


def ingest_pool(docs):
    """Ids of the (doc_id, text) pairs that have no near-duplicate among the
    others: the fixture derives ~5% of its texts from earlier ones by
    appending " dup", and the gate would reject either of such a pair."""
    by_root = {}
    for doc_id, text in docs:
        by_root.setdefault(_root(text), []).append(doc_id)
    return sorted(ids[0] for ids in by_root.values() if len(ids) == 1)


def ingest_plan(pool, seed, spec, n_batches, keep=()):
    """Base slice and n_batches micro-batches drawn from pool (sorted ids);
    the base always holds the ids in `keep`.

    Every batch first deletes `dels` live ids, then offers `fresh` docs the
    corpus has never seen and `dups` exact copies of live texts under new
    ids. The gate must therefore accept exactly the fresh docs and reject
    exactly the copies; the expected counts are returned with the plan.
    """
    rng = random.Random(seed)
    keep = sorted(keep)
    ids = [i for i in pool if i not in set(keep)]
    rng.shuffle(ids)
    n_base = spec["base"] - len(keep)
    need = n_base + n_batches * spec["fresh"]
    if len(ids) < need:
        raise ValueError(f"pool holds {len(ids)} docs, plan needs {need}")
    base = sorted(keep + ids[:n_base])
    fresh = ids[n_base:need]
    live = list(base)
    batches, expected = [], []
    next_dup = DUP_ID_BASE
    for b in range(n_batches):
        dels = rng.sample(live, spec["dels"])
        gone = set(dels)
        live = [i for i in live if i not in gone]
        dups = []
        for src in rng.sample(live, spec["dups"]):
            dups.append([next_dup, src])
            next_dup += 1
        add = fresh[b * spec["fresh"]:(b + 1) * spec["fresh"]]
        batches.append({"del": sorted(dels), "add": add, "dup": dups})
        expected.append({"accepted": len(add), "rejected": len(dups),
                         "deleted": len(dels)})
        live += add
    return {"base": base, "batches": batches}, expected
