"""Seeded input generator for graft's benchmark workloads.

Every choice a workload makes about its inputs is drawn here from one
`random.Random(seed)`, so the same seed always gives the same inputs and
the JVM side sees only the generated spec (and, for the corpus, the
generated document batches).

- warehouse_daily: the bootstrap's year of ship months, the months
  landed one per day after it, and the `l_orderkey`s the point lookups read.
- corpus_daily: the held-out split of a seeded document sample, the
  exact re-sends and near-duplicate edits planted in each daily batch
  (fixed shares of the batch), and the ids they arrive under (disjoint
  across days).
- query_mix: the query order of every round.
"""

import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The sf0.1 tables (TESTDATA.md): ~/testdata/sf0.1 unless overridden.
DEFAULT_SF_DIR = os.environ.get(
    "GRAFT_BENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))

# The bootstrap lands BOOTSTRAP_MONTHS ship months from a seed-chosen
# start (about a year of lineitem, ~88k rows at sf0.1); each day then
# lands the next month.
START_MONTHS = ["1995-01", "1995-02", "1995-03", "1995-04", "1995-05",
                "1995-06"]
BOOTSTRAP_MONTHS = 12
# Reads after each day: warehouse_daily makes one gold join, this many
# point lookups and one time-travel read (the point lookups are the
# majority, so the run's median read is one of them rather than falling
# between two kinds of read); corpus_daily scans the packed training
# table READS_PER_DAY times.
POINT_READS_PER_DAY = 3
READS_PER_DAY = 4

# Documents sampled from the source table; the bootstrap gets INIT_SHARE
# of them, the rest arrive as the fresh part of the daily batches.
CORPUS_SAMPLE = 500
INIT_SHARE = 0.6
# Each daily batch is made of units of ten documents: eight held-out
# fresh ones, one exact re-send and one near-duplicate edit of a doc the
# bootstrap landed, so the planted shares are exactly 10% each.
UNIT_FRESH, UNIT_EXACT, UNIT_NEAR = 8, 1, 1
# Planted documents arrive under ids in a range no source doc uses, one
# block per day, so ids never repeat across days.
PLANTED_ID_BASE = 1_000_000_000
PLANTED_ID_DAY_STRIDE = 1_000_000

# Source tables warehouse_daily lands besides lineitem (bronze events and
# nation; the dimensions' customer, region, orders and part).
WAREHOUSE_SOURCES = ["nation", "events", "customer", "region", "orders",
                     "part"]

QUERY_MIX = [
    "q_llm_pipeline", "q_dedup_minhash", "q_dedup_containment",
    "q_dedup_incremental", "q_ann_pq", "q_ann_ivfpq", "q_embed_kmeans",
    "q_text_bm25", "q_text_bpe_encode", "q_rollup", "q_fact_sales",
    "q_quantile_sketches", "q_profile_corr",
]


def warehouse(sf_dir, seed, days):
    rng = random.Random(seed)
    t = pq.read_table(f"{sf_dir}/lineitem.parquet",
                      columns=["l_orderkey", "l_shipdate"])
    month_of = pc.strftime(t["l_shipdate"], format="%Y-%m")
    counts = {c["values"]: c["counts"]
              for c in pc.value_counts(month_of).to_pylist()}
    start = rng.choice(START_MONTHS)
    months = sorted(m for m in counts if m >= start)
    cut = months[BOOTSTRAP_MONTHS]
    day_months = months[BOOTSTRAP_MONTHS:][:days]
    if len(day_months) < days:
        raise ValueError(f"lineitem has too few months after {cut}")
    # point-lookup keys for day d come from rows landed by the end of
    # day d, so every lookup has at least one matching row
    reads = []
    for d in range(days):
        landed = pc.and_(pc.greater_equal(month_of, start),
                         pc.less_equal(month_of, day_months[d]))
        keys = sorted(pc.unique(pc.filter(t["l_orderkey"], landed))
                      .to_pylist())
        reads.append(sorted(rng.sample(keys, POINT_READS_PER_DAY)))
    return {
        "start": start,
        "cut": cut,
        "day_months": day_months,
        "point_keys": reads,
        "bootstrap_rows": sum(n for m, n in counts.items()
                              if start <= m < cut),
        "landed_rows": sum(n for m, n in counts.items()
                           if start <= m <= day_months[-1]),
        "source_rows": t.num_rows,
    }


def near_dup(text, rng, vocab):
    """Swap two words for other vocabulary words: a small edit that keeps
    the document an obvious near duplicate of its source."""
    words = text.split(" ")
    for pos in rng.sample(range(len(words)), min(2, len(words))):
        words[pos] = rng.choice([w for w in vocab if w != words[pos]])
    return " ".join(words)


def corpus(sf_dir, seed, days, out_dir):
    """Writes init.parquet and day_<d>.parquet under out_dir and returns
    their paths plus the planted ids of every batch."""
    rng = random.Random(seed)
    docs = pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["doc_id", "lang", "text"]).to_pylist()
    docs = rng.sample(docs, CORPUS_SAMPLE)
    n_init = int(CORPUS_SAMPLE * INIT_SHARE)
    init, held = docs[:n_init], docs[n_init:]
    units = len(held) // days // UNIT_FRESH
    n_fresh, n_exact, n_near = (units * UNIT_FRESH, units * UNIT_EXACT,
                                units * UNIT_NEAR)
    vocab = sorted({w for d in docs for w in d["text"].split(" ") if w})
    # sources of planted docs: landed in the bootstrap, each used once
    sources = rng.sample(init, days * (n_exact + n_near))
    os.makedirs(out_dir, exist_ok=True)

    def write(rows, name):
        path = os.path.join(out_dir, name)
        pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema([
            ("doc_id", pa.int64()), ("lang", pa.string()),
            ("text", pa.string())])), path)
        return path

    spec = {"init": write(init, "init.parquet"), "days": []}
    for d in range(days):
        next_id = PLANTED_ID_BASE + (d + 1) * PLANTED_ID_DAY_STRIDE
        fresh = held[d * n_fresh:(d + 1) * n_fresh]
        src = sources[d * (n_exact + n_near):(d + 1) * (n_exact + n_near)]
        exact = [dict(s, doc_id=next_id + i) for i, s in
                 enumerate(src[:n_exact])]
        near = [dict(s, doc_id=next_id + n_exact + i,
                     text=near_dup(s["text"], rng, vocab))
                for i, s in enumerate(src[n_exact:])]
        rows = fresh + exact + near
        rng.shuffle(rows)
        spec["days"].append({
            "path": write(rows, f"day_{d + 1}.parquet"),
            "docs": len(rows),
            "exact_ids": [r["doc_id"] for r in exact],
            "near_ids": [r["doc_id"] for r in near],
        })
    spec["input_bytes"] = sum(os.path.getsize(p) for p in
                              [spec["init"]] + [d["path"] for d in
                                                spec["days"]])
    return spec


def spec(workload, seed, days, rounds, sf_dir, tmp):
    """The run spec the JVM side reads: the workload's generated inputs
    plus where its scratch output lives."""
    s = {"workload": workload, "seed": seed, "sf_dir": sf_dir, "tmp": tmp}
    if workload == "warehouse_daily":
        w = warehouse(sf_dir, seed, days)
        w["input_bytes"] = (
            os.path.getsize(f"{sf_dir}/lineitem.parquet") *
            w["landed_rows"] / w["source_rows"] +
            sum(os.path.getsize(f"{sf_dir}/{t}.parquet")
                for t in WAREHOUSE_SOURCES))
        s["warehouse"] = w
    elif workload == "corpus_daily":
        s["corpus"] = corpus(sf_dir, seed, days, os.path.join(tmp, "inputs"))
        s["corpus"]["reads_per_day"] = READS_PER_DAY
    else:
        s["query_order"] = query_order(seed, rounds)
    return s


def query_order(seed, rounds):
    rng = random.Random(seed)
    order = []
    for _ in range(rounds):
        names = list(QUERY_MIX)
        rng.shuffle(names)
        order.append(names)
    return order
