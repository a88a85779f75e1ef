"""The daemon phase of the ``backfill`` workload's traced window: catch up
to the node over WebSocket JSON-RPC, then follow the chain live.

Catch-up: ``pipeline.backfill`` through ``make_provider(url=…)`` against
the loopback node of ``rpcnode`` (real wire shape). It is fetch-bound, so
a gain on the lake write path alone should not move its rate.

Live tail (open loop): the chain then creates blocks at an even pace and
publishes them as one raw-block parquet drop of ``DROP_BLOCKS`` every
``PERIOD_S`` seconds, ``LIVE_DROPS`` times, whatever the tail is doing.
Every other drop, from the first, also re-issues the 3-8 heights (from the
seed) below it on a new branch, so the tail must detect the reorg,
truncate and rewrite. ``start_tail`` ingests with a processing-time
trigger into the lake the catch-up wrote. Freshness of a block runs from
its scheduled creation to the moment the lake's commit marker covers it.

Set-up warms the tail with one drop of the same shape (a fork) on a
throwaway lake, so every live batch is warm. The tail's drain capacity is
the new blocks of the live drops over the batches' processing time
(``triggerExecution``): the rate it would sustain with batches back to
back. The offered rate, ``DROP_BLOCKS / PERIOD_S``, is about 0.6 of the
capacity measured on a 4-vCPU host (see README); every traced run reports
the capacity it measured and the ratio.

Drops are fed to the source directory directly: ``HeadPoller._drop`` hands
raw node dicts to ``createDataFrame`` and fails on a real wire block (hex
quantity strings), so the poller is not in the loop.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import harness as H
from lakebench import LakeWorkload

DROP_BLOCKS = 50
PERIOD_S = 7.0  # offered 7.1 blocks/s: about 0.6 of the drain capacity
LIVE_DROPS = 3
FORK_EVERY = 2
TRIGGER = "250 milliseconds"

RAW_SCHEMA = pa.schema([
    ("number", pa.int64()), ("hash", pa.string()), ("parent_hash", pa.string()),
    ("nonce", pa.string()), ("sha3_uncles", pa.string()),
    ("logs_bloom", pa.string()), ("transactions_root", pa.string()),
    ("state_root", pa.string()), ("receipts_root", pa.string()),
    ("miner", pa.string()), ("difficulty", pa.string()),
    ("total_difficulty", pa.string()), ("extra_data", pa.string()),
    ("energy_limit", pa.int64()), ("energy_used", pa.int64()),
    ("timestamp", pa.int64()),
    ("transactions", pa.list_(pa.struct([
        ("hash", pa.string()), ("nonce", pa.string()),
        ("transaction_index", pa.int64()), ("from", pa.string()),
        ("to", pa.string()), ("value", pa.string()), ("energy", pa.string()),
        ("energy_price", pa.string()), ("input", pa.string())]))),
])


def branch_hash(h: int, epoch: int) -> str:
    p = "blk" if epoch == 0 else f"fork{epoch}:"
    return hashlib.md5(f"{p}{h}".encode()).hexdigest() + hashlib.md5(
        f"{p}{h}x".encode()).hexdigest()


def schedule(n_drops: int, size: int, fork_depth: int, base: int) -> list[dict]:
    """Drop j carries new heights base + [j*size, (j+1)*size) on branch
    (epoch) j+1. Every ``FORK_EVERY``-th drop, from the first, also
    re-issues the ``fork_depth`` heights below them on that branch: a fork.
    The others extend the previous drop's branch."""
    out = []
    for j in range(n_drops):
        new_lo = base + j * size
        lo = new_lo - (fork_depth if j % FORK_EVERY == 0 else 0)
        out.append({"j": j, "lo": lo, "new_lo": new_lo, "hi": new_lo + size - 1,
                    "epoch": j + 1, "fork_start": lo})
    return out


def final_hashes(drops: list[dict]) -> dict[int, str]:
    """Height -> hash of the branch that finally holds it (heights below
    the first drop are the catch-up's, on the original branch)."""
    out = {h: branch_hash(h, 0) for h in range(drops[0]["lo"])}
    for d in drops:
        for h in range(d["lo"], d["hi"] + 1):
            out[h] = branch_hash(h, d["epoch"])
    return out


def write_drops(chain: list[dict], drops: list[dict], stage: str) -> dict[int, str]:
    """Write each drop as one raw-block parquet file, rows taken from the
    canonical fixture chain with the drop's branch hashes; returns drop id
    -> file path."""
    os.makedirs(stage, exist_ok=True)
    out = {}
    for d in drops:
        e, s = d["epoch"], d["fork_start"]
        rows = []
        for h in range(d["lo"], d["hi"] + 1):
            row = dict(chain[h])
            row["hash"] = branch_hash(h, e)
            row["parent_hash"] = ("0" * 64 if h == 0 else
                                  branch_hash(h - 1, e if h - 1 >= s else e - 1))
            rows.append(row)
        path = os.path.join(stage, f"drop{d['j']}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=RAW_SCHEMA), path)
        out[d["j"]] = path
    return out


def progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


class DaemonWorkload:
    """RPC catch-up, then the live tail on the caught-up lake."""

    def __init__(self, spark, seed: int, tracer: H.Tracer) -> None:
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.rng = random.Random(seed)
        self.catchup = LakeWorkload(spark, seed, tracer, rpc=True)
        self.problems = self.catchup.problems

    @property
    def attempted(self) -> int:
        return self.catchup.attempted

    @property
    def failed(self) -> int:
        return self.catchup.failed

    def _count(self, ok: bool, problem: str) -> None:
        self.catchup.attempted += 1
        if not ok:
            self.catchup.failed += 1
            self.problems.append(problem)

    def _start_tail(self, lake, name: str):
        """A processing-time tail on ``lake`` over a fresh source directory;
        returns (query, source directory)."""
        from core_etl_spark.sources import fixtures as FX
        from core_etl_spark.streaming.tail import start_tail

        base = os.path.join(H.WORK, "tail", name)
        src = os.path.join(base, "incoming")
        os.makedirs(src)
        q = start_tail(self.spark, lake, src, os.path.join(base, "ckpt"),
                       watch_contracts=(FX.WATCH_CONTRACT,),
                       receipts_for=FX.receipts, trigger_interval=TRIGGER)
        return q, src

    @staticmethod
    def _publish(path: str, src: str, j: int) -> None:
        """Land one staged drop atomically; its mtime orders the stream."""
        tmp = os.path.join(os.path.dirname(src), f".drop{j}")
        shutil.copyfile(path, tmp)
        os.utime(tmp)
        os.replace(tmp, os.path.join(src, f"drop{j:05d}.parquet"))

    @staticmethod
    def _wait_for(lake, tip: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while lake.commits[-1][1] < tip and time.time() < deadline:
            time.sleep(0.02)
        return lake.commits[-1][1] >= tip

    def setup(self) -> None:
        nb = self.catchup.nb
        self.catchup.extra_blocks = LIVE_DROPS * DROP_BLOCKS
        self.catchup.setup()
        H.log("catch-up set up")
        depth = self.rng.randint(3, 8)
        stage = os.path.join(H.WORK, "tail", "stage")
        self.live = schedule(LIVE_DROPS, DROP_BLOCKS, depth, base=nb)
        self.staged = write_drops(self.catchup.chain, self.live,
                                  os.path.join(stage, "live"))
        self._warm_tail(depth, os.path.join(stage, "warm"))
        H.log("tail warmed up")

    def _warm_tail(self, depth: int, stage: str) -> None:
        """One forking drop through a tail on the catch-up's warm-up lake,
        which is then removed."""
        lake = self.catchup.warm_lake
        [drop] = schedule(1, DROP_BLOCKS, depth, base=self.catchup.warm_nb)
        staged = write_drops(self.catchup.chain, [drop], stage)
        q, src = self._start_tail(lake, "warm")
        self._publish(staged[0], src, 0)
        done = self._wait_for(lake, drop["hi"], 120)
        q.stop()
        if not done:
            raise RuntimeError(f"tail warm-up stalled at {lake.commits[-1][1]}")
        shutil.rmtree(lake.root, ignore_errors=True)

    def measure(self, seconds: float) -> dict:
        tr = self.tracer
        catchup = self.catchup.measure(seconds / 2)
        H.log("catch-up measured")
        # the catch-up's own checks run here, before the tail extends the lake
        self.catchup.check(catchup)
        H.log("catch-up checked")
        lake = catchup["lake"]
        drops = self.live
        q, src = self._start_tail(lake, "live")
        commits_before = len(lake.commits)
        truncates_before = lake.truncates
        with tr.span("streaming.live") as live_span:
            tr.ambient = live_span.sid
            t_start = time.time()
            # the chain began creating the first drop's blocks a period ago
            t0 = t_start - PERIOD_S
            late = []
            for d in drops:
                due = t0 + (d["j"] + 1) * PERIOD_S
                time.sleep(max(0.0, due - time.time()))
                late.append(time.time() - due)
                self._publish(self.staged[d["j"]], src, d["j"])
            self._wait_for(lake, drops[-1]["hi"], 60)
            t_end = time.time()
            tr.ambient = None
        q.processAllAvailable()  # let the batch finish and report progress
        q.stop()
        commits = lake.commits[commits_before:]
        fresh, commit_at = [], {}
        rate = DROP_BLOCKS / PERIOD_S
        base = drops[0]["new_lo"]
        for d in drops:
            pub = t0 + (d["j"] + 1) * PERIOD_S
            tc = next((t for t, m in commits if t >= pub and m >= d["hi"]), None)
            self._count(tc is not None, f"live drop {d['j']} never committed")
            if tc is None:
                continue
            commit_at[d["j"]] = tc
            for h in range(d["new_lo"], d["hi"] + 1):
                created = t0 + (h - base + 1) / rate
                fresh.append(next(t for t, m in commits if t >= pub and m >= h)
                             - created)
        pubs = [t0 + (d["j"] + 1) * PERIOD_S for d in drops]
        backlog = max(
            sum(1 for d, p in zip(drops, pubs)
                if p <= t < commit_at.get(d["j"], float("inf")))
            for t in pubs)
        return {"catchup": catchup, "lake": lake, "fresh": fresh, "late": late,
                "progress": progress(q), "start": t_start, "end": t_end,
                "backlog": backlog, "truncates": lake.truncates - truncates_before}

    def summarize(self, w: dict) -> dict:
        """Catch-up blocks per second, and block freshness in drop periods."""
        return {
            "rpc_blocks_per_s": self.catchup.summarize(w["catchup"])["throughput_per_s"],
            "freshness_p50_periods": H.pct(w["fresh"], 50) / PERIOD_S,
            "freshness_p90_periods": H.pct(w["fresh"], 90) / PERIOD_S,
        }

    def check(self, w: dict) -> None:
        """No gaps, the right tip, every height on its final branch (so each
        forked height carries its replacement hash), one reorg per fork."""
        from core_etl_spark.operators import verify as V

        lake, drops = w["lake"], self.live
        gaps = V.sequence_gaps(lake.blocks()).collect()
        self._count(not gaps, f"live: sequence gaps {gaps[:3]}")
        tip = lake.latest_block_number()
        self._count(tip == drops[-1]["hi"], f"live: tip {tip} != {drops[-1]['hi']}")
        want = final_hashes(drops)
        got = {r["number"]: r["hash"]
               for r in lake.blocks().select("number", "hash").collect()}
        bad = sorted(h for h in set(want) | set(got) if got.get(h) != want.get(h))
        self._count(not bad, f"live: {len(bad)} heights off their final branch, "
                             f"e.g. {bad[:5]}")
        forks = sum(1 for d in drops if d["lo"] < d["new_lo"])
        self._count(w["truncates"] == forks,
                    f"live: {w['truncates']} reorgs handled, {forks} forks offered")

    def layer_metrics(self, w: dict, jobs: list[dict]) -> dict:
        tr = self.tracer
        m = self.catchup.node_metrics(w["catchup"])
        batches = [p for p in w["progress"] if p.get("numInputRows", 0) > 0]
        # streaming spans from the progress reports; lake spans the batch
        # thread recorded inside a batch become its children
        add_spans = []
        [live] = tr.by_name("streaming.live")
        for p in batches:
            dm = p["durationMs"]
            t_start = _iso_epoch(p["timestamp"])
            trig = tr.add("streaming.trigger", t_start,
                          t_start + dm.get("triggerExecution", 0) / 1000,
                          parent=live["id"])
            pre = sum(dm.get(k, 0) for k in ("latestOffset", "getBatch",
                                             "queryPlanning", "walCommit"))
            a0 = t_start + pre / 1000
            a1 = a0 + dm.get("addBatch", 0) / 1000
            add_spans.append((tr.add("streaming.add_batch", a0, a1, parent=trig),
                              a0, a1))
        for s in tr.spans:
            if s["layer"] == "lake" and s["parent"] == live["id"]:
                for sid, lo, hi in add_spans:
                    if lo - 0.01 <= s["start"] and s["end"] <= hi + 0.01:
                        s["parent"] = sid
                        break
        trig = [p["durationMs"].get("triggerExecution", 0) for p in batches]
        addb = [p["durationMs"].get("addBatch", 0) for p in batches]
        drain = DROP_BLOCKS * len(self.live) / (max(sum(trig), 1) / 1000)
        wall = w["end"] - w["start"]
        in_live = [s for s in tr.spans if w["start"] <= s["start"] <= w["end"]]

        def share(name: str) -> float:
            return sum(s["end"] - s["start"] for s in in_live if s["name"] == name) / wall

        tail_jobs = H.job_metrics(jobs, [(w["start"], w["end"])], len(batches))
        m.update({
            "tail.batches": len(batches),
            "tail.jobs_per_batch": tail_jobs["op.jobs"],
            "tail.trigger_overhead_share": 1 - sum(addb) / max(sum(trig), 1),
            "tail.backlog_max_drops": w["backlog"],
            "tail.drain_blocks_per_s": drain,
            "tail.offered_to_drain_ratio": DROP_BLOCKS / PERIOD_S / drain,
            "tail.generator_late_share": max(w["late"]) / PERIOD_S,
            "lake.reorgs_handled": w["truncates"],
            "lake.detect_reorgs_share": share("lake.detect_reorgs"),
            "lake.truncate_share": share("lake.truncate"),
            "tail.write_all_share": share("lake.write_all"),
        })
        return m

    def close(self) -> None:
        for q in self.spark.streams.active:
            q.stop()
        self.catchup.close()
