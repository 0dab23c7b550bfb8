"""HTTP suggest service runner — the reference's ``suggest service-run``
(/root/reference/internal/suggest/api/app.go:40-91): boot a SuggestService
from a reference-format IndexDescription config, write a pidfile, serve the
routed API, and reindex live on SIGHUP or POST /internal/reindex.

    python jobs/http_service_job.py --config config.json [--port 8080]
        [--pid-path suggest.pid] [--base-dir DIR]

Single-driver serving shim: Flask's threaded dev server is fine here because
every request is a Spark action on the shared SparkSession (the concurrency
model the reference gets from net/http + RWMutex, app.go:86-90, is provided
by SuggestService's atomic snapshot swap).  Scale-out is N replicas of this
process behind a balancer, each reindexing from the same warehouse.
"""

from __future__ import annotations

import argparse
import logging
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from suggest_spark.plans.session import get_spark
from suggest_spark.serving import create_app, service_from_config

log = logging.getLogger(__name__)


def write_pid_file(pid_path: str | None) -> None:
    """app.go:94-109 writePIDFile."""
    if not pid_path:
        return
    os.makedirs(os.path.dirname(os.path.abspath(pid_path)), exist_ok=True)
    with open(pid_path, "w") as f:
        f.write(str(os.getpid()))


def install_sighup_reindex(reindex_job, background: bool = True) -> dict:
    """app.go:47-68 listenToSystemSignals: SIGHUP -> live reindex.

    The rebuild runs on ONE long-lived daemon worker thread woken by a
    ``threading.Event`` — not in the signal handler: Python delivers signals
    on the main thread (Flask's accept loop), so a synchronous multi-minute
    Spark rebuild there would freeze all new connections (the reference
    reindexes in a goroutine while net/http keeps serving).  The handler
    body is a single ``Event.set()``, which is atomic and re-entrancy-safe —
    a second SIGHUP delivered at a bytecode boundary INSIDE the first
    handler cannot start a duplicate worker (the round-3 check-then-set
    hazard is structurally gone: there is exactly one worker, created once).

    SIGHUPs arriving while a rebuild is in flight COALESCE into exactly one
    follow-up run: the worker clears the event BEFORE running the job, so
    any signal landing mid-rebuild leaves it set for one more pass — the Go
    buffered-signal-channel semantics (a config change mid-rebuild is always
    picked up afterward, never dropped; a signal storm never queues N runs).

    Returns ``{"thread": worker Thread, "wait_idle": fn(timeout) -> bool}``;
    ``wait_idle`` blocks until no rebuild is running or pending (tests and
    graceful shutdown).
    """
    import threading
    import time

    wake = threading.Event()
    idle = threading.Event()
    idle.set()

    def _run_once():
        # clear BEFORE the job reads config: a signal set after this point
        # reflects a change the current run may have missed → one more pass
        wake.clear()
        t0 = time.monotonic()
        try:
            reindex_job()
        except Exception:  # the Go loop logs and keeps serving
            log.exception("reindex failed; still serving the previous index")
        else:
            log.info("reindex done in %.2f s", time.monotonic() - t0)

    stopped = threading.Event()

    def _worker():
        while not stopped.is_set():
            wake.wait()
            if stopped.is_set():
                return
            idle.clear()
            try:
                _run_once()
            except BaseException:  # noqa: BLE001 — the worker must not die
                # SystemExit/KeyboardInterrupt raised inside reindex_job would
                # otherwise kill the ONLY worker, after which every future
                # SIGHUP sets the event into a void and the service serves a
                # stale index forever (the round-3 design re-spawned workers
                # per signal and so self-healed; this one must be immortal)
                log.exception("reindex aborted; the reindex worker keeps running")
            finally:
                # never park with work pending or report idle too early
                if not wake.is_set():
                    idle.set()

    def _on_hup(signum, frame):
        wake.set()  # atomic; the only statement — nothing to interleave
        if not background:
            # tests-only deterministic synchronous path (no worker thread);
            # a nested handler here re-enters _run_once, which is harmless
            # single-threaded re-execution, not concurrent duplication
            while wake.is_set():
                idle.clear()
                try:
                    _run_once()
                finally:
                    if not wake.is_set():
                        idle.set()

    t = None
    if background:
        t = threading.Thread(target=_worker, daemon=True, name="sighup-reindex")
        t.start()

    def wait_idle(timeout: float = 60.0) -> bool:
        """True once no rebuild is running or pending (polls: 'idle' must be
        observed TOGETHER with 'no wake pending' — the event pair changes in
        two steps)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if idle.is_set() and not wake.is_set():
                return True
            time.sleep(0.02)
        return False

    def stop() -> None:
        """Retire the worker (tests / re-installs: keeps repeated installs
        from accumulating parked threads)."""
        stopped.set()
        wake.set()

    signal.signal(signal.SIGHUP, _on_hup)
    return {"thread": t, "wait_idle": wait_idle, "stop": stop}


def warm_service(service) -> None:
    """Serving-latency boot step, re-run after every reindex (a full rebuild
    installs entries without hot state — it must never describe a
    pre-mutation snapshot; small upserts instead PATCH it in place,
    service.upsert_disc_index): warm() compiles the per-metric codegen, pins the entry's
    index/dictionary and collects the value map; enable_hot_replica then
    installs the in-driver snapshot for millisecond lone requests, falling
    back to the (always-correct, coalesced) Spark path for entries above
    the driver-memory postings bound."""
    for name in service.dictionaries():
        service.warm(name)
        try:
            service.enable_hot_replica(name)
        except ValueError as exc:  # corpus-scale entry: coalesced Spark path
            log.warning(
                "hot replica refused for %r, serving it on the Spark path: %s", name, exc
            )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--pid-path", default=None)
    ap.add_argument("--base-dir", default=None)
    ap.add_argument("--master", default=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
    args = ap.parse_args()

    write_pid_file(args.pid_path)
    spark = get_spark(app_name="suggest_http_service", master=args.master)
    service, reindex_job = service_from_config(spark, args.config, args.base_dir)
    warm_service(service)

    def reindex_and_rewarm() -> None:
        reindex_job()
        warm_service(service)

    install_sighup_reindex(reindex_and_rewarm)
    # coalesce: N concurrent requests -> one Spark job per parameter group
    # (replica-backed entries answer each group in-driver in milliseconds)
    app = create_app(service, reindex_and_rewarm, coalesce=True)
    app.run(host="0.0.0.0", port=args.port, threaded=True)


if __name__ == "__main__":
    main()
