"""The ``backfill`` workload: one lake's life through the layers the
engine serves it with.

1. ``lakebench``: the fixture chain backfilled into a fresh lake, the no-op
   resume, then the point/scan view mix over it. Its blocks per second and
   view latencies are the end-to-end figures.
2. ``daemonbench``, in the traced window only: an RPC catch-up from the
   loopback node, then the live tail, forking at every other drop. Its
   catch-up rate (relative to the fixture backfill) and block freshness
   are per-layer figures; no end-to-end figure depends on it, so untraced
   windows leave it out and keep within the run budget.
"""

from __future__ import annotations

import harness as H
from daemonbench import DaemonWorkload
from lakebench import LakeWorkload


class BackfillWorkload:
    def __init__(self, spark, seed: int, tracer: H.Tracer, daemon: bool) -> None:
        self.backfill = LakeWorkload(spark, seed, tracer, rpc=False)
        self.daemon = DaemonWorkload(spark, seed, tracer) if daemon else None
        self.problems = self.backfill.problems

    @property
    def attempted(self) -> int:
        return self.backfill.attempted + (self.daemon.attempted if self.daemon else 0)

    @property
    def failed(self) -> int:
        return self.backfill.failed + (self.daemon.failed if self.daemon else 0)

    def setup(self) -> None:
        self.backfill.setup()
        if self.daemon:
            self.daemon.setup()

    def measure(self, seconds: float, throughput_only: bool = False) -> dict:
        # the daemon phase only feeds per-layer figures: traced windows only
        traced = self.daemon is not None and self.backfill.tracer.enabled
        return {"backfill": self.backfill.measure(seconds, throughput_only),
                "daemon": self.daemon.measure(seconds) if traced else None}

    def summarize(self, w: dict) -> dict:
        return self.backfill.summarize(w["backfill"])

    def check(self, w: dict) -> None:
        self.backfill.check(w["backfill"])
        if w["daemon"] is not None:
            self.daemon.check(w["daemon"])
            self.problems += self.daemon.problems

    def layer_metrics(self, w: dict, jobs: list[dict]) -> dict:
        m = self.backfill.layer_metrics(w["backfill"], jobs)
        m.update(self.daemon.layer_metrics(w["daemon"], jobs))
        fixture = self.backfill.summarize(w["backfill"])["throughput_per_s"]
        live = self.daemon.summarize(w["daemon"])
        m["rpc.throughput_to_backfill_ratio"] = live["rpc_blocks_per_s"] / fixture
        m["tail.freshness_p50_periods"] = live["freshness_p50_periods"]
        m["tail.freshness_p90_periods"] = live["freshness_p90_periods"]
        return m

    def close(self) -> None:
        if self.daemon:
            self.daemon.close()
