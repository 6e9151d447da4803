#!/usr/bin/env python3
"""CDC replay benchmark: catch-up and steady-state tails, timed end to end.

    python3 perfbench/run.py --workload {catchup,tail_cow,tail_mor} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The last line of stdout is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``).  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` is a separate, instrumented run that
reports the per-layer table instead.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # everything below counts as set-up

import argparse  # noqa: E402
import fcntl  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".bench_run")

sys.path.insert(0, HERE)
import inputs as I  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


class Workload:
    """One workload: its input shape, its replay config, and whether it is a
    tail (base + warm-up + timed epochs) or a catch-up (one replay call)."""

    def __init__(self, spec: I.Spec, cfg_kwargs: dict, tail: bool):
        self.spec, self.cfg_kwargs, self.tail = spec, cfg_kwargs, tail

    def cfg(self):
        from jurisprudencia_privada_etl_spark.plans.replay import ReplayConfig

        return ReplayConfig(**self.cfg_kwargs)


TAIL_BASE = 5_000
# untimed epochs after the base: epoch times keep falling for the first few
# epochs of a process (JIT of Spark's planning and task code), then level off
TAIL_WARMUP = 5
TAIL_EPOCHS = TAIL_WARMUP + 4
WORKLOADS = {
    "catchup": Workload(
        I.Spec(10_000, 40_000, 3, accented_share=0.25, stale_share=0.0, invalid_share=0.001),
        {"validate": True, "conflict_fields": ["lang", "content"]},
        tail=False,
    ),
    "tail_cow": Workload(
        I.Spec(TAIL_BASE, TAIL_BASE // 100, TAIL_EPOCHS, 0.0, 0.02, 0.0),
        {},
        tail=True,
    ),
    "tail_mor": Workload(
        I.Spec(TAIL_BASE, TAIL_BASE // 100, TAIL_EPOCHS, 0.0, 0.02, 0.0),
        {"write_mode": "mor", "auto_compact_files_per_bucket": 4},
        tail=True,
    ),
}
ABSENT_KEY = ("repo-9999", "src/absent.py")


def start_spark(tmp: str, trace_dir: str | None):
    from jurisprudencia_privada_etl_spark.session import get_spark

    n = nproc()
    conf = {
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if trace_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + trace_dir,
        })
    spark = get_spark("perfbench", master=f"local[{n}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (and with it the Python workers), and
    wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def data_files(table: str) -> dict[str, int]:
    """Every parquet data file under the table's data directory → bytes."""
    out = {}
    for d, _, files in os.walk(os.path.join(table, "data")):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def snapshot_bytes(sink) -> int:
    """On-disk bytes of the parquet files the current manifest references."""
    total = 0
    for entry in sink.manifest().buckets.values():
        rels = [entry["path"], *(d["path"] for d in entry.get("deltas") or [])]
        rels += [d["path"] for d in entry.get("dvs") or []]
        for rel in rels:
            p = os.path.join(sink.table_path, rel)
            names = os.listdir(p) if os.path.isdir(p) else [""]
            for f in names:
                fp = os.path.join(p, f) if f else p
                if fp.endswith(".parquet"):
                    total += os.path.getsize(fp)
    return total


class Run:
    """State of one benchmark invocation."""

    def __init__(self, wl: Workload, seed: int, seconds: float, tmp: str, tracer=None):
        self.wl, self.seed, self.seconds, self.tmp, self.tracer = wl, seed, seconds, tmp, tracer
        self.attempted = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {"epoch_s": [], "lookup_ms": [], "scan_s": []}
        self.cores = nproc()

    # -- helpers -------------------------------------------------------------

    def span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    def replay(self, clog: str, table: str, epochs: list[int] | None):
        from jurisprudencia_privada_etl_spark.plans.replay import replay

        return replay(self.spark, clog, table, self.wl.cfg(), epochs=epochs)

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        # inputs are generated while the JVM starts
        gen = _Background(I.generate, self.wl.spec, self.seed)
        self.spark = start_spark(self.tmp, self.tracer.event_dir if self.tracer else None)
        self.inputs = gen.result()
        I.stage(self.inputs, os.path.join(self.tmp, "staging"))
        log(f"inputs: {self.inputs.n} events")
        if self.tracer:
            self.tracer.install(self.spark)
            from pyspark import SparkContext

            self._rss_stop = threading.Event()
            self._rss = threading.Thread(
                target=self.tracer.sample_rss, args=(SparkContext._gateway.proc.pid, self._rss_stop)
            )
            self._rss.start()
        log("session up")
        from jurisprudencia_privada_etl_spark.sources import changelog

        # one set-up per run: a second would double a run's fixed cost
        self.clog = os.path.join(self.tmp, "changelog")
        self.table = os.path.join(self.tmp, "table")
        with self.span("setup"):
            staged = self.spark.read.parquet(os.path.join(self.tmp, "staging"))
            changelog.write_changelog(staged, self.clog)
            log("changelog written")
            if self.wl.tail:
                # base build, then untimed full-size warm-up epochs
                self.replay(self.clog, self.table, [0])
                log("base built")
                for e in range(1, TAIL_WARMUP + 1):
                    self.replay(self.clog, self.table, [e])
            else:
                # warm-up: epoch 0 into a throwaway table
                self.replay(self.clog, os.path.join(self.tmp, "warm-up"), [0])
        if self.wl.tail:
            self.timed_epochs = self.inputs.epochs[TAIL_WARMUP + 1:]
            self.oracle = I.Oracle(self.inputs)
            self.oracle.advance(TAIL_WARMUP)
        else:
            self.timed_epochs = self.inputs.epochs[1:]
            self.oracle = I.Oracle(self.inputs, first_epoch=1)
        self.setup_s = time.perf_counter() - T_PROCESS
        log(f"set-up done: {self.setup_s:.2f}s")

    # -- timed section -----------------------------------------------------------

    def lookup_key(self, i: int) -> tuple[str, str]:
        """The i-th lookup's key: a hot-repo key, a cold key and an absent
        key in turn."""
        hot, cold = self.inputs.keys_hot, self.inputs.keys_cold
        return (hot[(7 * i) % len(hot)], cold[(5 * i) % len(cold)], ABSENT_KEY)[i % 3]

    def lookup(self, sink, i: int) -> None:
        key = self.lookup_key(i)
        with self.span("lookup"):
            t = time.perf_counter()
            rows = sink.lookup([key]).collect()
            self.samples["lookup_ms"].append((time.perf_counter() - t) * 1e3)
        self.attempted += 1
        want = self.oracle.row(key)
        got = [tuple(_cell(r[c]) for c in I.DIGEST_COLS) for r in rows]
        self.check(got == ([want] if want else []), f"lookup {key} at epoch {self.oracle.epoch}")

    def scan(self, sink) -> None:
        with self.span("scan"):
            t = time.perf_counter()
            sink.load().write.format("noop").mode("overwrite").save()
            self.samples["scan_s"].append(time.perf_counter() - t)
        self.attempted += 1

    def timed(self) -> None:
        deadline = time.perf_counter() + self.seconds
        before = data_files(self.table)
        replay_s = 0.0
        timed = set(self.timed_epochs)
        n_events = sum(1 for e in self.inputs.columns["epoch"] if e in timed)
        if self.wl.tail:
            for i, e in enumerate(self.timed_epochs):
                with self.span("epoch"):
                    t = time.perf_counter()
                    sink = self.replay(self.clog, self.table, [e])
                    dt = time.perf_counter() - t
                self.attempted += 1
                replay_s += dt
                self.samples["epoch_s"].append(dt)
                self.oracle.advance(e)
                self.lookup(sink, i)  # one per epoch, checked as of that epoch
            for i in range(len(self.timed_epochs), 12):  # twelve samples in all
                self.lookup(sink, i)
        else:
            with self.span("epoch"):
                t = time.perf_counter()
                sink = self.replay(self.clog, self.table, self.timed_epochs)
                replay_s = time.perf_counter() - t
            self.attempted += 1
            # per-epoch commit latency from the manifests' publish times
            self.samples["epoch_s"] = _commit_gaps(self.table, t, len(self.timed_epochs))
            self.oracle.advance(self.timed_epochs[-1])
            for i in range(12):
                self.lookup(sink, i)
        log("epoch walls " + " ".join(f"{x:.2f}" for x in self.samples["epoch_s"]))
        self.sink = sink
        written = sum(v for p, v in data_files(self.table).items() if p not in before)
        self.events_per_s = n_events / replay_s
        self.write_amp = written / self.oracle.content_bytes(self.timed_epochs)
        # scans fill the rest of the run up to the deadline; the traced run,
        # which reports scan_s, takes at least five
        while len(self.samples["scan_s"]) < (5 if self.tracer else 0) or time.perf_counter() < deadline:
            self.scan(sink)
        log("lookup ms " + " ".join(f"{x:.0f}" for x in self.samples["lookup_ms"]))

    # -- untimed checks ----------------------------------------------------------

    def verify(self) -> None:
        from jurisprudencia_privada_etl_spark.operators.fsck import table_digest

        want = _Background(self.oracle.digest)
        row = table_digest(self.sink.load(), I.DIGEST_COLS).collect()[0]
        got = (int(row["n_rows"]), int(row["digest_xor"]), str(int(row["digest_sum"])))
        want = want.result()
        self.check(got == want, f"table digest {got} != {want}")
        if self.wl.spec.invalid_share:
            want = self.inputs.invalid_in(self.timed_epochs)
            dead = self.spark.read.parquet(os.path.join(self.table, "_dead_letter")).count()
            self.check(dead == want, f"dead letters {dead} != {want}")

    # -- figures the traced run reads from the table -----------------------------

    def epoch_windows(self, spans) -> list[tuple[float, float]]:
        """Wall-clock intervals of the timed epochs: one replay call each on
        a tail; on a catch-up, the one replay call cut at each epoch commit."""
        bench = [(sp.t0, sp.t1) for sp in spans if sp.name == "epoch"]
        if self.wl.tail:
            return bench
        a, b = bench[-1]
        ends = [sp.t1 for sp in spans if sp.name == "replay.process_epoch" and a <= sp.t0 < b]
        return list(zip([a, *ends[:-1]], ends))

    def manifests(self) -> list[dict]:
        mdir = os.path.join(self.table, "_manifest")
        out = []
        for f in sorted(os.listdir(mdir)):
            if f.startswith("v") and f.endswith(".json"):
                with open(os.path.join(mdir, f)) as fh:
                    out.append(json.load(fh))
        return out

    def mor_depths(self) -> list[int]:
        """Deepest delta stack of each snapshot."""
        return [
            max((len(b.get("deltas") or []) for b in m["buckets"].values()), default=0)
            for m in self.manifests()
        ]

    def dead_letter_rows(self) -> int:
        return sum(int((m.get("metrics") or {}).get("dead_letter_rows", 0)) for m in self.manifests())

    def manifest_bytes(self) -> int:
        mdir = os.path.join(self.table, "_manifest")
        last = max(f for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json"))
        return os.path.getsize(os.path.join(mdir, last))

    def trace_overhead(self) -> float:
        """Share by which tracing lowers events/s against untraced runs."""
        return 1.0 - self.events_per_s / self.untraced_events_per_s

    def result(self) -> dict:
        metrics = {
            "setup_s": (self.setup_s, "s"),
            "events_per_s": (self.events_per_s, "1/s"),
            "epoch_s.p50": (_median(self.samples["epoch_s"]), "s"),
            "write_amp": (self.write_amp, "ratio"),
            "snapshot_mb": (snapshot_bytes(self.sink) / 1e6, "MB"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


class _Background(threading.Thread):
    """Run ``fn(*args)`` on a thread; ``result()`` joins and returns (or raises)."""

    def __init__(self, fn, *args):
        super().__init__(daemon=True)
        self._fn, self._args, self._out, self._err = fn, args, None, None
        self.start()

    def run(self) -> None:
        try:
            self._out = self._fn(*self._args)
        except BaseException as e:  # handed to the joining thread
            self._err = e

    def result(self):
        self.join()
        if self._err is not None:
            raise self._err
        return self._out


def _cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _commit_gaps(table: str, t0: float, n: int) -> list[float]:
    """Wall time of each epoch commit of one replay call, from the publish
    times of its manifests (t0 is the call's start on the same clock)."""
    mdir = os.path.join(table, "_manifest")
    stamps = sorted(
        os.stat(os.path.join(mdir, f)).st_mtime_ns
        for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json")
    )[-n:]
    start = time.time_ns() - (time.perf_counter() - t0) * 1e9
    return [(b - a) / 1e9 for a, b in zip([start, *stamps[:-1]], stamps)]


def _code_id() -> str:
    """Digest of the benchmark's and the package's Python sources, so that
    traced runs compare only against untraced runs of the same code."""
    h = hashlib.sha256()
    for top in (HERE, os.path.join(ROOT, "jurisprudencia_privada_etl_spark")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:12]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # the package must be importable here and in the Python workers the JVM
    # spawns, whatever the cwd
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    import jurisprudencia_privada_etl_spark  # noqa: F401  (fail fast without the package)

    os.makedirs(RUN_DIR, exist_ok=True)
    record = os.path.join(RUN_DIR, f"untraced-{args.workload}-{_code_id()}.json")
    baseline = None
    if args.trace:
        # tracing overhead is measured against untraced runs of this checkout;
        # without one yet, make one first (sequentially, never concurrently)
        if not os.path.exists(record):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
            subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
        with open(record) as f:
            baseline = _median(json.load(f))
    with open(os.path.join(RUN_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # never two benchmark processes at once
        for old in os.listdir(RUN_DIR):  # left by a killed run
            if old.startswith("run-"):
                shutil.rmtree(os.path.join(RUN_DIR, old), ignore_errors=True)
        tmp = os.path.join(RUN_DIR, f"run-{os.getpid()}")
        os.makedirs(tmp)
        # every temporary file of this process, the JVMs and the Python
        # workers stays under the run directory
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        tempfile.tempdir = tmp
        run = None
        try:
            tracer = None
            if args.trace:
                import trace_layers

                tracer = trace_layers.Tracer(tmp)
            run = Run(WORKLOADS[args.workload], args.seed, args.seconds, tmp, tracer)
            run.setup()
            run.timed()
            run.verify()
            if tracer:
                run._rss_stop.set()
                run._rss.join()
                run.untraced_events_per_s = baseline
            stop_spark(run.spark)  # closes the event log
            run.spark = None
            failed = run.attempted if run.errors else 0
            for e in run.errors:
                print("MISMATCH", e, file=sys.stderr)
            if tracer:
                metrics = tracer.report(run)
            else:
                metrics = run.result()
            out = {
                "correct": not run.errors,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        finally:
            if run is not None and getattr(run, "spark", None) is not None:
                stop_spark(run.spark)
            shutil.rmtree(tmp, ignore_errors=True)
    if not args.trace and out["correct"]:
        seen = []
        if os.path.exists(record):
            with open(record) as f:
                seen = json.load(f)
        with open(record, "w") as f:
            json.dump((seen + [run.events_per_s])[-10:], f)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "input_sha256": run.inputs.digest, **run.inputs.properties()}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
