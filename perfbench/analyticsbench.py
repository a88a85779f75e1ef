"""The ``analytics`` workload: registry specs over seeded synthetic tables.

The tables are generated at set-up from the seed, in the schemas the
registry reads (a TPC-H-like star, a document corpus with planted
near-duplicates, labelled embedding vectors). Each measured pass (at
least ``MIN_PASSES``) runs every spec in ``SPECS`` once, with
``clearCache()`` before each, and materializes its result as a pandas
frame — the rows a caller receives. The results of the last pass are
checked against the specs' DuckDB oracles with ``tests.parity.compare``;
l07x has no oracle and is checked through its own ``valid`` column.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import harness as H

#: explicit names, not the registry's ``headline`` flag, so the set
#: cannot drift with the registry
SPECS = (
    "g03_star_join_tpch_q5",
    "l07x_minhash_lsh_xxhash",
    "l18b_star_cc_chains",
    "l12_ann_ivf_topk",
)

MIN_PASSES = 3
#: untimed passes in set-up: the first pass after one warm-up pass still
#: ran up to 1.7x slower than later ones (l18b, l07x, l12)
WARM_PASSES = 2

SCALE = {"customer": 150, "supplier": 25, "part": 200, "orders": 1500,
         "lineitem": 6000, "documents": 500, "embeddings": 500}

_VOCAB = ("a the data spark table query row column key value hash join "
          "sort merge scan filter group agg window order line part customer "
          "batch stream big small fast slow vector index shard node cache "
          "block chain token ledger commit").split()


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pd.Series:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo_d + rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return pd.Series(d.astype("datetime64[us]"))


def generate_tables(out_dir: str, seed: int) -> None:
    """Write every table the specs read, deterministically from ``seed``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SCALE

    def put(name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
        pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                       os.path.join(out_dir, f"{name}.parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    put("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        pa.schema([("r_regionkey", i32), ("r_name", s)]))
    put("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    # g03 (TPC-H Q5) keeps ASIA suppliers selling to customers of their own
    # nation; customer 0, order 0 and line 0 are planted to be such a sale,
    # so its result is never empty
    asia_nation = 2  # n_regionkey 2 is ASIA
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": np.r_[asia_nation, rng.integers(0, 25, n["customer"] - 1)
                             ].astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])]}),
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    put("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        # one supplier per nation, so every region has suppliers
        "s_nationkey": (np.arange(n["supplier"]) % 25).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)}),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    colors = np.array(["red", "blue", "green", "small", "large", "steel", "brass", "gold"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "plate", "valve", "pipe", "nut"])
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"])
    np_ = n["part"]
    put("part", pd.DataFrame({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{c} {w}" for c, w in zip(colors[rng.integers(0, 8, np_)],
                                              nouns[rng.integers(0, 8, np_)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": types[rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 2)}),
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))
    no = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": np.r_[0, rng.integers(0, n["customer"], no - 1)].astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pd.concat([pd.Series([np.datetime64("1997-06-01", "us")]),
                                  _days(rng, no - 1, "1995-01-01", "2001-08-01")],
                                 ignore_index=True),
        "o_orderpriority": prio[rng.integers(0, 5, no)]}),
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    nl = n["lineitem"]
    put("lineitem", pd.DataFrame({
        "l_orderkey": np.r_[0, rng.integers(0, no, nl - 1)].astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": np.r_[asia_nation, rng.integers(0, n["supplier"], nl - 1)
                           ].astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")}),
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64),
                   ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))
    # documents: random bags of words, 40% of them light edits of an
    # earlier document so the dedup operators find real pairs
    nd = n["documents"]
    prng = random.Random(seed)
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and prng.random() < 0.4:
            words = texts[prng.randrange(i)].split()
            for _ in range(prng.randint(1, 3)):
                words[prng.randrange(len(words))] = prng.choice(_VOCAB)
        else:
            words = [prng.choice(_VOCAB) for _ in range(prng.randint(20, 80))]
        texts.append(" ".join(words))
    langs = ["en"] * 3 + ["zh", "es", "de", "fr"]
    put("documents", pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [prng.choice(langs) for _ in range(nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))
    ne, dim = n["embeddings"], 64
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, ne)
    v = centers[label] + 0.5 * rng.normal(0, 1, (ne, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pd.DataFrame({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": list(v),
        "label": label.astype(np.int32)}),
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]))


class _Materialized:
    """Hands an already-collected result to ``tests.parity.compare``, which
    only calls ``toPandas`` on the Spark side."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


class AnalyticsWorkload:
    def __init__(self, spark, seed: int, tracer: H.Tracer) -> None:
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.data = os.path.join(H.WORK, "tables")

    def setup(self) -> None:
        from core_etl_spark.plans import all_specs

        generate_tables(self.data, self.seed)
        registry = all_specs()
        self.specs = {n: registry[n] for n in SPECS}
        for _ in range(WARM_PASSES):
            for name in SPECS:
                self.spark.catalog.clearCache()
                self.specs[name].builder(self.spark, self.data).toPandas()

    def measure(self, seconds: float, throughput_only: bool = False) -> dict:
        """Spec passes for ``seconds`` (at least ``MIN_PASSES``); every spec
        run counts to throughput, so ``throughput_only`` changes nothing."""
        import time

        runs, results = [], {}
        t_end = time.perf_counter() + seconds
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() < t_end:
            passes += 1
            for name in SPECS:
                self.spark.catalog.clearCache()
                with self.tracer.span(f"analytics.{name}"):
                    t0 = time.time()
                    pdf = self.specs[name].builder(self.spark, self.data).toPandas()
                    t1 = time.time()
                runs.append({"spec": name, "start": t0, "end": t1})
                results[name] = pdf
                self.attempted += 1
        return {"runs": runs, "results": results}

    def summarize(self, w: dict) -> dict:
        lat = [(r["end"] - r["start"]) * 1000 for r in w["runs"]]
        return {
            "throughput_per_s": len(lat) / (sum(lat) / 1000),
            "latency_p50_ms": H.pct(lat, 50),
            "latency_p90_ms": H.pct(lat, 90),
        }

    def check(self, w: dict) -> None:
        from tests.parity import compare, duck_connection

        con = duck_connection(self.data)
        for name in SPECS:
            pdf = w["results"][name]
            oracle = self.specs[name].oracle
            if pdf.empty:  # every spec returns rows on these tables
                problems = ["empty result"]
            elif oracle is not None:
                problems = compare(_Materialized(pdf), con.execute(oracle).fetchdf())
            elif "valid" in pdf.columns:
                problems = [] if bool(pdf["valid"].all()) else ["valid is false on some rows"]
            else:
                problems = ["no oracle and no valid column to check"]
            if problems:
                self.failed += 1
                self.problems.append(f"{name}: {problems[:3]}")

    def layer_metrics(self, w: dict, jobs: list[dict]) -> dict:
        runs = w["runs"]
        m = H.job_metrics(jobs, [(r["start"], r["end"]) for r in runs], len(runs))
        wall = sum(r["end"] - r["start"] for r in runs)
        for name in SPECS:
            mine = [(r["start"], r["end"]) for r in runs if r["spec"] == name]
            sm = H.job_metrics(jobs, mine, len(mine))
            short = name.split("_", 1)[0]
            m[f"analytics.{short}.jobs"] = sm["op.jobs"]
            m[f"analytics.{short}.stages"] = sm["op.stages"]
            m[f"analytics.{short}.tasks"] = sm["op.tasks"]
            m[f"analytics.{short}.share"] = sum(hi - lo for lo, hi in mine) / wall
        return m

    def close(self) -> None:
        pass
