"""Run context: work tree, the one Spark session, setup-phase timings."""

from __future__ import annotations

from perfbench.common import (Workdir, calibration_probe, nproc,
                              prepare_env, reap_descendants, start_session)


class Context:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.phases: dict[str, float] = {}
        self.work = Workdir()
        self._spark = None

    def __enter__(self):
        prepare_env(self.work)
        return self

    def __exit__(self, *exc):
        # each step runs even when the one before raised (a SIGTERM can
        # land inside a py4j call and leave the gateway unusable)
        try:
            self.stop_session()
        finally:
            try:
                _stop_jvm()
            finally:
                reap_descendants()
                self.work.close()

    def session(self, event_log: bool = False):
        if self._spark is None:
            self._spark = start_session(self.work, event_log)
        return self._spark

    def stop_session(self) -> None:
        spark, self._spark = self._spark, None
        if spark is not None:
            spark.stop()

    def restart_session(self, event_log: bool):
        """Stop the session and start another in the same JVM, with fresh
        Python workers (and the Spark event log on or off)."""
        self.stop_session()
        return self.session(event_log)

    def phase(self, name: str, seconds: float) -> None:
        self.phases[name] = seconds

    def run(self) -> dict:
        calib = calibration_probe()
        if self.trace:
            from perfbench import trace

            res = trace.run(self)
        else:
            from perfbench import extraction

            res = extraction.extract_to_noop(self)
        res["detail"].update(nproc=nproc(), calibration_s=calib,
                             phases=self.phases)
        if self.trace:
            res.metric("host.calibration_s", calib, "s")
            res.metric("host.nproc", nproc(), "count")
        return res


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
