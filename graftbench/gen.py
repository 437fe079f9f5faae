"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (`Tables.all`) as one parquet file
each, with the schemas and value domains of the TPC-H-ish reference test
data the engine is developed against (FIXTURES.md, TESTDATA.md). The
benchmark may read only its own checkout, so it cannot use the reference
tables themselves; this generator reproduces their shape instead. Every
parameter below was read off the reference tables at sf0.001, sf0.01 and
sf0.1:

- row counts (`sizes`) equal the reference counts at all three scale
  factors. documents and embeddings do not scale linearly there:
  documents are 500 / 500 / 5 000 and embeddings 500 / 500 / 2 000 rows
  at sf0.001 / 0.01 / 0.1, so sf0.01 has the same 500 documents as the
  smoke scale;
- `documents.text` is word soup drawn uniformly from a 30-word
  vocabulary, 10 to 99 words per document (mean 54); one document in 20
  is a near duplicate, the text of another document with the word `dup`
  appended; `lang` is `en` for 41-44% of documents and one of de, es, fr,
  zh for the rest; `source` is `src<doc_id mod 20>`; `n_chars` is the
  text's length;
- keys are uniform, `events.ts` ascends with `event_id` over 30 days,
  embeddings are 64 floats drawn from N(0, 0.15).

The same (seed, sf) always gives byte-identical tables.

    python3 graftbench/gen.py <out_dir> --seed 7 --sf 0.01
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def sizes(sf):
    """Row counts per table at scale factor `sf` (lineitem = 6M x sf); the
    reference tables' counts at sf0.001, 0.01 and 0.1."""
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, n, start, end):
    """`n` uniform midnight timestamps in [start, end] as micros."""
    span = (end - start).days
    base = int(dt.datetime(start.year, start.month, start.day)
               .replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return base + rng.integers(0, span + 1, n).astype(np.int64) * 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values):
    # isAdjustedToUTC=false, as in the reference data: Spark scans it as
    # TIMESTAMP_NTZ and `Tables.events` normalizes it
    return pa.array(values, type=pa.timestamp("us"))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), type=pa.string())


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _choice(rng, SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npart = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": _choice(rng, names, npart),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _choice(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1))})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": _ts(_days(rng, no, dt.date(1995, 1, 1),
                                 dt.date(2001, 8, 1))),
        "o_orderpriority": _choice(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
        "l_linestatus": _choice(rng, ["F", "O"], nl),
        "l_shipdate": _ts(_days(rng, nl, dt.date(1995, 1, 2),
                                dt.date(2001, 11, 4)))})
    ne = n["events"]
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
             .timestamp()) * 1_000_000
    month = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(t0 + np.sort(rng.integers(0, month, ne)).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, n["users"], ne).astype(np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    nd = n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 100, nd)]
    # one document in 20 repeats another one's text with "dup" appended
    dup = rng.choice(nd, 2 * (nd // 20), replace=False)
    for src, dst in zip(dup[::2], dup[1::2]):
        texts[dst] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    nv = n["embeddings"]
    emb = rng.normal(0.0, 0.15, (nv, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32))})
    return out


def write(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    write(a.out_dir, a.seed, a.sf)


if __name__ == "__main__":
    main()
