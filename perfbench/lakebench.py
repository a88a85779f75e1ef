"""The fixture backfill and view mix of the ``backfill`` workload, the
daemon phase's RPC catch-up, and the traced ``Lake`` subclass both use.

``backfill``: ``pipeline.backfill`` of the fixture chain into a fresh lake
(throughput), the no-op resume, then a closed-loop single-client mix of
point and scan views over that lake (latency).

RPC catch-up (``rpc=True``): the same chain backfilled through
``make_provider(url=…)`` from a loopback node serving real wire-shape
replies; ``daemonbench`` follows it with the live tail.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import threading
import time

import harness as H
from core_etl_spark.lake import Lake

TPB = 4  # transactions per block


# --- traced lake ----------------------------------------------------------------


class BenchLake(Lake):
    """A ``Lake`` that records a span around each call the pipeline and the
    tail make into it, and the wall time at which each group commit lands
    (``commits``: (epoch s, marker height)). Commit times are recorded with
    tracing off too: freshness and chunk latency are end-to-end metrics."""

    def __init__(self, spark, root, tracer: H.Tracer, **kw) -> None:
        super().__init__(spark, root, **kw)
        self.tracer = tracer
        self.commits: list[tuple[float, int]] = []
        self.truncates = 0
        self._pending = threading.local()

    def _close_detect(self) -> None:
        # detect_reorgs returns a lazy frame the caller collects right
        # away; its span runs from the call to the caller's next lake call
        start = getattr(self._pending, "detect", None)
        if start is not None:
            self._pending.detect = None
            st = self.tracer._stack()
            self.tracer.add("lake.detect_reorgs", start, time.time(),
                            parent=st[-1] if st else None)

    def write_all(self, *a, **kw):
        self._close_detect()
        with self.tracer.span("lake.write_all"):
            super().write_all(*a, **kw)
        self.commits.append((time.time(), self.resume_point()))

    def _verified_contiguous_hi(self, blocks, height_range):
        # the backfill prefetch thread's fused fetch + probe action
        with self.tracer.span("sources.prefetch"):
            return super()._verified_contiguous_hi(blocks, height_range)

    def detect_reorgs(self, incoming_headers):
        if self.tracer.enabled:
            self._pending.detect = time.time()
        return super().detect_reorgs(incoming_headers)

    def truncate_from_last_saved(self, n: int) -> None:
        self._close_detect()
        self.truncates += 1
        with self.tracer.span("lake.truncate"):
            super().truncate_from_last_saved(n)

    def resume_point(self) -> int:
        self._close_detect()
        with self.tracer.span("lake.resume_point"):
            return super().resume_point()

    def latest_block_number(self) -> int:
        self._close_detect()
        with self.tracer.span("lake.latest_block_number"):
            return super().latest_block_number()


def lake_layout(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under a warehouse root."""
    files = size = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in filenames:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


# --- the fixture chain, recomputed in Python for the checks -----------------------


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def block_hash(n: int) -> str:
    return _md5(f"blk{n}") + _md5(f"blk{n}x")


def tx_hash(k: int) -> str:
    return _md5(f"tx{k}") + _md5(f"tx{k}x")


def transfer_recipient(k: int) -> str:
    return _md5(f"t{k}") + _md5(f"t{k}y")[:12]


def single_transfer_key(rng: random.Random, nb: int) -> tuple[int, int]:
    """A (block, tx key) whose tx is a plain CBC20 ``transfer`` to the
    watched contract: exactly one transfer row, to a unique recipient."""
    while True:
        n, i = rng.randrange(nb), rng.randrange(TPB)
        k = n * 31 + i
        if k % 3 == 0 and k % 7 and k % 11 and k % 13:
            return n, k


def matched_txs(nb: int) -> int:
    """Transactions the decode joins receipts for (calls to the watched
    contract with a transfer selector)."""
    return sum(
        1 for n in range(nb) for i in range(TPB)
        if (k := n * 31 + i) % 13 and (k % 3 == 0 or k % 7 == 0 or k % 11 == 0)
    )


# --- correctness: sink digests vs the DuckDB replay of the chain ------------------


def digests(lake: Lake) -> dict[str, tuple[int, int]]:
    from pyspark.sql import functions as F

    from core_etl_spark.plans.maintenance_specs import _blk_digest_cols, _digest_frame

    epoch = F.col("created_at").cast("long")
    frames = [
        _digest_frame(lake.blocks(), "blocks", _blk_digest_cols()),
        _digest_frame(lake.transactions(), "transactions",
                      ["hash", "nonce", "block_hash", "block_number",
                       "transaction_index", "from_addr", "to_addr", "value",
                       "energy", "energy_price", "input", epoch]),
        _digest_frame(lake.token_transfers(), "token_transfers",
                      ["block_number", "from_addr", "to_addr", "value",
                       "tx_hash", "address", "transfer_index", "status",
                       epoch]),
    ]
    out = {}
    for f in frames:
        r = f.first()
        out[r["tbl"]] = (int(r["n_rows"]), int(r["digest"] or 0))
    return out


def oracle_digests(nb: int) -> dict[str, tuple[int, int]]:
    import duckdb

    from core_etl_spark.plans.maintenance_specs import _o1_oracle

    rows = duckdb.connect().execute(_o1_oracle(nb, TPB)).fetchall()
    return {r[0]: (int(r[1]), int(r[2])) for r in rows}


# --- the view mix -------------------------------------------------------------------


POINT_OPS = ("block_by_number", "block_by_hash", "transaction_by_hash",
             "block_transactions", "transfers_by_address")
SCAN_OPS = ("blocks_in_range", "token_transfers_by_token",
            "blocks_with_maturity", "sequence_gaps")
RANGE = 200  # blocks per range scan
MIN_QUERIES = 60


def view_key(op: str, rng: random.Random, nb: int):
    """A key for one view over an ``nb``-block chain, drawn from ``rng``."""
    if op in ("transfers_by_address", "token_transfers_by_token"):
        return single_transfer_key(rng, nb)
    if op == "transaction_by_hash":
        return rng.randrange(nb), rng.randrange(TPB)
    if op == "blocks_in_range":
        return rng.randrange(nb - RANGE)
    if op == "blocks_with_maturity":
        return rng.randrange(nb - 10)
    if op == "sequence_gaps":
        return None
    return rng.randrange(nb)


def query_plan(rng: random.Random, nb: int):
    """Endless (op, key) stream: five point views, then one scan, the scan
    kind rotating."""
    s = 0
    while True:
        for op in POINT_OPS:
            yield op, view_key(op, rng, nb)
        op = SCAN_OPS[s % len(SCAN_OPS)]
        s += 1
        yield op, view_key(op, rng, nb)


def run_view(lake: Lake, op: str, key):
    """Build one view over the lake; returns the DataFrame."""
    from pyspark.sql import functions as F

    from core_etl_spark.operators import verify as V
    from core_etl_spark.operators import views as Q
    from core_etl_spark.sources.fixtures import WATCH_CONTRACT

    if op == "block_by_number":
        return lake.block_by_number(key)
    if op == "block_by_hash":
        return Q.block_by_hash(lake.blocks(), block_hash(key))
    if op == "transaction_by_hash":
        n, i = key
        return Q.transaction_by_hash(lake.transactions(), tx_hash(n * 31 + i))
    if op == "block_transactions":
        return lake.block_transactions(key)
    if op == "transfers_by_address":
        return Q.transfers_by_address(lake.token_transfers(),
                                      transfer_recipient(key[1]))
    if op == "blocks_in_range":
        return lake.blocks_in_range(key, key + RANGE - 1)
    if op == "token_transfers_by_token":
        return Q.token_transfers_by_token(lake.token_transfers(), WATCH_CONTRACT,
                                          to_addr=transfer_recipient(key[1]))
    if op == "blocks_with_maturity":
        return lake.blocks_with_maturity().filter(
            F.col("number").between(key, key + 9))
    if op == "sequence_gaps":
        return V.sequence_gaps(lake.blocks())
    raise ValueError(op)


def check_view(op: str, key, rows, nb: int) -> bool:
    if op == "block_by_number":
        return len(rows) == 1 and rows[0]["hash"] == block_hash(key)
    if op == "block_by_hash":
        return len(rows) == 1 and rows[0]["number"] == key
    if op == "transaction_by_hash":
        n, i = key
        return (len(rows) == 1 and rows[0]["block_number"] == n
                and rows[0]["transaction_index"] == i)
    if op == "block_transactions":
        return sorted(r["hash"] for r in rows) == sorted(
            tx_hash(key * 31 + i) for i in range(TPB))
    if op in ("transfers_by_address", "token_transfers_by_token"):
        n, k = key
        return (len(rows) == 1 and rows[0]["tx_hash"] == tx_hash(k)
                and rows[0]["block_number"] == n)
    if op == "blocks_in_range":
        return sorted(r["number"] for r in rows) == list(range(key, key + RANGE))
    if op == "blocks_with_maturity":
        return sorted((r["number"], r["matured"]) for r in rows) == [
            (n, int(n <= nb - 1 - 5)) for n in range(key, key + 10)]
    if op == "sequence_gaps":
        return rows == []
    return False


def scan_stats(df) -> tuple[int, int]:
    """(files read, rows scanned) summed over the executed plan's file
    scans, from their SQL metrics after the action ran."""
    files = rows = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls in ("FileSourceScanExec", "BatchScanExec"):
            m = node.metrics()
            for name in ("numFiles",):
                if m.contains(name):
                    files += m.apply(name).value()
            if m.contains("numOutputRows"):
                rows += m.apply("numOutputRows").value()
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            stack.append(subs.apply(i))
    return files, rows


# --- workloads ------------------------------------------------------------------------


class LakeWorkload:
    """Drives the ``backfill`` workload, or with ``rpc=True`` the daemon's
    catch-up."""

    def __init__(self, spark, seed: int, tracer: H.Tracer, rpc: bool) -> None:
        self.spark, self.seed, self.tracer, self.rpc = spark, seed, tracer, rpc
        self.nb = 1000 if rpc else 4000
        self.chunk = 500 if rpc else 1000
        #: the warm-up backfills the whole chain, so the first measured
        #: window starts warm; the catch-up warms on one chunk (its figures
        #: are per-layer only)
        self.warm_nb = self.chunk if rpc else self.nb
        #: backfills per measured window, at least
        self.min_reps = 1 if rpc else 2
        self.root = os.path.join(H.WORK, "lakes", "rpc" if rpc else "fixture")
        self.node = None
        self.n_lake = 0
        #: canonical fixture blocks beyond the node's tip, for the daemon's
        #: live tail (``chain`` holds all of them once set up)
        self.extra_blocks = 0
        self.chain: list[dict] = []
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from core_etl_spark.pipeline import backfill
        from core_etl_spark.sources.fixtures import WATCH_CONTRACT
        from core_etl_spark.sources.provider import FixtureBlockProvider

        if self.rpc:
            self.node = self._start_node(self.nb)
            self.provider = self._rpc_provider()
            H.log("node serving")
        else:
            self.provider = FixtureBlockProvider(self.nb, TPB)
        # warm-up: an untimed backfill and each view once
        lake = self._fresh_lake()
        backfill(self.spark, lake, self.provider, (WATCH_CONTRACT,),
                 end=self.warm_nb - 1, chunk_size=self.chunk)
        H.log("backfill warmed up")
        if self.rpc:
            # the daemon warms its tail on this lake, then removes it
            self.warm_lake = lake
        else:
            rng = random.Random(self.seed ^ 0x5EED)
            for op in POINT_OPS + SCAN_OPS:
                run_view(lake, op, view_key(op, rng, self.warm_nb)).collect()
            shutil.rmtree(lake.root, ignore_errors=True)
        self.oracle = oracle_digests(self.nb)

    def _start_node(self, nb: int):
        from core_etl_spark.sources import fixtures as FX
        from rpcnode import LoopbackNode, wire_block

        raw = FX.raw_blocks(self.spark, nb + self.extra_blocks, TPB)
        self.chain = sorted((r.asDict(recursive=True) for r in raw.collect()),
                            key=lambda b: b["number"])
        blocks, receipts = {}, {}
        for b in self.chain[:nb]:
            blocks[b["number"]] = json.dumps(wire_block(b))
            for t in b["transactions"]:
                status = 0 if int(t["hash"][:4], 16) % 17 == 0 else 1
                receipts["0x" + t["hash"]] = json.dumps(
                    {"transactionHash": "0x" + t["hash"], "status": hex(status)})
        return LoopbackNode(blocks, receipts, tip=nb - 1)

    def _rpc_provider(self):
        from core_etl_spark.sources.ws import make_provider

        # fetch partitions (and so node connections) per chunk <= nproc
        per_part = math.ceil(self.chunk / H.nproc())
        return make_provider(url=self.node.url, chunk_size=per_part)

    def _fresh_lake(self) -> BenchLake:
        self.n_lake += 1
        path = os.path.join(self.root, f"lake{self.n_lake}")
        return BenchLake(self.spark, path, self.tracer, bucket_size=self.chunk)

    def _backfill_once(self) -> BenchLake:
        from core_etl_spark.pipeline import backfill
        from core_etl_spark.sources.fixtures import WATCH_CONTRACT

        lake = self._fresh_lake()
        done = backfill(self.spark, lake, self.provider, (WATCH_CONTRACT,),
                        chunk_size=self.chunk)
        if done != self.nb:
            raise RuntimeError(f"backfill ingested {done} of {self.nb} blocks")
        return lake

    # -- measured window ---------------------------------------------------

    def measure(self, seconds: float, throughput_only: bool = False) -> dict:
        """One measured window: backfills until half the window is gone (at
        least ``min_reps``), then the view mix until it is all gone (at
        least ``MIN_QUERIES``). The RPC catch-up spends the whole window on
        backfills; ``throughput_only`` ends any window after them."""
        from core_etl_spark.pipeline import backfill

        tr = self.tracer
        ingest_share = 1.0 if self.rpc else 0.5
        t_end = time.perf_counter() + seconds
        t_ingest_end = time.perf_counter() + seconds * ingest_share
        reps, lakes = [], []
        while len(reps) < self.min_reps or time.perf_counter() < t_ingest_end:
            if lakes:  # keep only the lake the view mix will read
                shutil.rmtree(lakes.pop().root, ignore_errors=True)
            if self.node:
                self.node.reset_counters()
            t0 = time.time()
            with tr.span("pipeline.backfill") as sp:
                tr.ambient = sp.sid
                lake = self._backfill_once()
                tr.ambient = None
            t1 = time.time()
            reps.append({"start": t0, "end": t1, "commits": list(lake.commits),
                         "node": self.node.counters() if self.node else None})
            lakes.append(lake)
            self.attempted += 1
        lake = lakes[-1]
        # the no-op resume, timed as its own op
        with tr.span("pipeline.resume"):
            resumed = backfill(self.spark, lake, self.provider)
        self.attempted += 1
        if resumed != 0:
            self.failed += 1
            self.problems.append(f"resume ingested {resumed} blocks, want 0")
        queries = []
        if not (self.rpc or throughput_only):
            rng = random.Random(self.seed)
            plan = query_plan(rng, self.nb)
            while len(queries) < MIN_QUERIES or time.perf_counter() < t_end:
                op, key = next(plan)
                t0 = time.time()
                with tr.span("views." + op if op != "sequence_gaps"
                             else "verify.sequence_gaps"):
                    df = run_view(lake, op, key)
                    rows = [r.asDict() for r in df.collect()]
                t1 = time.time()
                q = {"op": op, "key": key, "start": t0, "end": t1, "rows": rows}
                if tr.enabled:
                    q["files"], q["scanned"] = scan_stats(df)
                queries.append(q)
        return {"reps": reps, "queries": queries, "lake": lake}

    def summarize(self, w: dict) -> dict:
        """End-to-end figures of one window (the daemon takes only the
        throughput of its catch-up)."""
        reps = w["reps"]
        wall = sum(r["end"] - r["start"] for r in reps)
        out = {"throughput_per_s": self.nb * len(reps) / wall}
        if w["queries"]:
            lat = [(q["end"] - q["start"]) * 1000 for q in w["queries"]]
            out["latency_p50_ms"] = H.pct(lat, 50)
            out["latency_p90_ms"] = H.pct(lat, 90)
        return out

    def check(self, w: dict) -> None:
        """Outside the timed window: sink digests against the DuckDB replay
        of the chain, and every view's rows against the chain formulas."""
        got = digests(w["lake"])
        self.attempted += 1
        if got != self.oracle:
            self.failed += 1
            self.problems.append(f"sink digests {got} != oracle {self.oracle}")
        for q in w["queries"]:
            self.attempted += 1
            if not check_view(q["op"], q["key"], q["rows"], self.nb):
                self.failed += 1
                self.problems.append(f"view {q['op']}{q['key']} wrong: {q['rows'][:2]}")

    def layer_metrics(self, w: dict, jobs: list[dict]) -> dict:
        tr = self.tracer
        reps = w["reps"]
        chunks = len(reps) * math.ceil(self.nb / self.chunk)
        m = H.job_metrics(jobs, [(r["start"], r["end"]) for r in reps], chunks)
        wall = sum(r["end"] - r["start"] for r in reps)
        def within_reps(name: str) -> list[dict]:
            return [s for s in tr.by_name(name)
                    if any(r["start"] <= s["start"] <= r["end"] for r in reps)]

        pre = within_reps("sources.prefetch")
        wa = within_reps("lake.write_all")
        bf = within_reps("pipeline.backfill")
        # main-thread time of each backfill outside its write_all calls:
        # blocked on the prefetch future, plus planning between chunks
        wait = sum(
            (b["end"] - b["start"]) - sum(
                s["end"] - s["start"] for s in wa if s["parent"] == b["id"])
            for b in bf)
        files, size = lake_layout(w["lake"].root)
        m.update({
            "pipeline.chunks": chunks,
            "pipeline.prefetch_share": sum(s["end"] - s["start"] for s in pre) / wall,
            "pipeline.prefetch_wait_share": wait / wall,
            "lake.write_all_calls": len(wa) / len(reps),
            "lake.write_all_share": sum(s["end"] - s["start"] for s in wa) / wall,
            "lake.files": files,
            "lake.bytes": size,
        })
        qs = w["queries"]
        if qs:
            qm = H.job_metrics(jobs, [(q["start"], q["end"]) for q in qs], len(qs))
            returned = sum(len(q["rows"]) for q in qs)
            m.update({
                "views.jobs_per_query": qm["op.jobs"],
                "views.files_read_per_query": sum(q["files"] for q in qs) / len(qs),
                "views.rows_scanned_per_row_returned":
                    sum(q["scanned"] for q in qs) / max(returned, 1),
            })
            # scans vs points: the ratio of their medians (dimensionless)
            pt = [q["end"] - q["start"] for q in qs if q["op"] in POINT_OPS]
            sc = [q["end"] - q["start"] for q in qs if q["op"] not in POINT_OPS]
            if pt and sc:
                m["views.scan_to_point_ratio"] = H.median(sc) / H.median(pt)
        return m

    def node_metrics(self, w: dict) -> dict:
        """The RPC catch-up's figures, counted at the node, and the lake
        bytes it wrote per wire byte it fetched."""
        reps = w["reps"]
        node = [r["node"] for r in reps]
        wall = sum(r["end"] - r["start"] for r in reps)
        wire = sum(len(v) for v in self.node.blocks.values())
        return {
            "rpc.block_calls_per_block":
                sum(n["block_calls"] for n in node) / (self.nb * len(reps)),
            "rpc.receipt_calls_per_matched_tx":
                sum(n["receipt_calls"] for n in node)
                / (matched_txs(self.nb) * len(reps)),
            "rpc.connections": sum(n["connections"] for n in node) / len(reps),
            "rpc.node_busy_share": sum(n["busy_s"] for n in node) / wall,
            "lake.bytes_per_input_byte": lake_layout(w["lake"].root)[1] / wire,
        }

    def close(self) -> None:
        if self.node is not None:
            self.node.close()
