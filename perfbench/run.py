"""Same-box benchmark of the dle engine: one workload per process.

    python3 perfbench/run.py --workload pages_overlay --seed 1 \\
        --seconds 10 --trace 0

Drives the engine only through ``__spark_entry__.queries()`` on
``local[<cores>]``, with each op's result collected, hashed and compared
with its ``oracle_sql()`` twin run in DuckDB on the same generated
inputs. A run:

1. generates the workload's inputs from ``--seed`` (``inputs.py``);
2. starts the session and runs every distinct op once (the warm pass):
   ``setup_s`` is the time from process start to the end of this pass,
   less the time the DuckDB oracle took;
3. runs the op sequence until ``--seconds`` have passed (at least once);
   ``wall_s`` is the median sequence time, ``items_per_s`` the workload's
   items over it, ``rss_mb`` the mean resident memory of the process tree
   (Spark JVM and Python workers) meanwhile;
4. with ``--trace 1``, runs one more sequence traced and reports the
   per-layer metrics of ``layers.py`` instead of the end-to-end ones.

Between sequences the Spark cache, the kNN top-k cache and any RDD an op
left persisted are released, and the temp directory (``tempfile.tempdir``,
where the engine puts its checkpoint roots) is replaced by a fresh one, so
no sequence reads a previous one's state. Everything is written under ``.perfbench_work/``
in the checkout and removed at exit, except the trace spans.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Readable per-op detail goes to stdout before it.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

OP_TIMEOUT_S = 60       # an op still running then is cancelled: a failure
RUN_LIMIT_S = 150       # no new sequence starts past this process age
HARD_LIMIT_S = 175      # the watchdog ends the process past this age
# A small heap keeps the Spark JVM's resident size steady from run to
# run (with 3g its peak RSS varied by a third); the inputs need far less.
JVM_HEAP = "1g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------ process tree
class ProcTree(threading.Thread):
    """This process and all its descendants (Spark JVM, Python workers),
    read from /proc: summed RSS, sampled in the background."""

    def __init__(self, period=0.1):
        super().__init__(daemon=True)
        self.period = period
        self.samples: list[int] = []
        self.peak = 0
        self.peak_jvm = 0
        self.peak_procs = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _stat(pid) -> list[str]:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()

    @classmethod
    def tree(cls, root: int) -> set[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                ppid = int(cls._stat(d)[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = set(), [root]
        while todo:
            p = todo.pop()
            out.add(p)
            todo.extend(kids.get(p, ()))
        return out

    @staticmethod
    def cpu_ticks() -> tuple[int, int]:
        """(steal, total) ticks of this machine so far, from /proc/stat:
        steal is CPU time the hypervisor gave to other guests."""
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)

    def sample(self) -> None:
        total = jvm = n = 0
        for p in self.tree(os.getpid()):
            try:
                with open(f"/proc/{p}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{p}/comm") as f:
                    is_jvm = f.read().strip() == "java"
            except (OSError, IndexError, ValueError):
                continue
            total += rss
            jvm += rss if is_jvm else 0
            n += 1
        self.samples.append(total)
        self.peak = max(self.peak, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_procs = max(self.peak_procs, n)

    def run(self):
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self):
        self._halt.set()
        self.join()


# --------------------------------------------------------------- the run
class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.tmp = work / "tmp"
        self.in_dir = work / "inputs"
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failures: list[str] = []
        self.op_log: dict[str, list] = {}
        self.seq_no = 0
        self.leaked_rdds = 0

    # ---- environment -----------------------------------------------------
    def configure_env(self) -> None:
        for d in (self.tmp, self.work / "spark", self.work / "jtmp"):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.tmp)
        tempfile.tempdir = str(self.tmp)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p])
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            f"--conf spark.local.dir={self.work / 'spark'}",
            f"--conf spark.sql.warehouse.dir={self.work / 'warehouse'}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options -Djava.io.tmpdir={self.work / 'jtmp'}",
            "pyspark-shell"])

    def start_session(self):
        sys.path.insert(0, str(ROOT))
        import __spark_entry__ as entry
        from dle.operators import knn
        from dle.session import get_spark
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.knn = knn
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]")
        self.spark.sparkContext.setLogLevel("ERROR")

    # ---- isolation -------------------------------------------------------
    def release(self) -> None:
        """Drop every cached frame. RDDs still persisted after the engine's
        own releases (local checkpoints an op did not unpersist) are
        counted and unpersisted too."""
        self.spark.catalog.clearCache()
        self.knn.release_cache(self.spark)
        left = self.spark.sparkContext._jsc.getPersistentRDDs()
        self.leaked_rdds += left.size()
        for rdd in list(left.values()):
            rdd.unpersist(True)

    def fresh_tmp(self) -> Path:
        """Release cached frames and point tempfile at a new directory."""
        self.release()
        d = Path(tempfile.mkdtemp(prefix="seq-", dir=self.tmp))
        tempfile.tempdir = str(d)
        return d

    def drop_tmp(self, d: Path) -> None:
        tempfile.tempdir = str(self.tmp)
        shutil.rmtree(d, ignore_errors=True)

    # ---- one op ----------------------------------------------------------
    def run_op(self, i: int, op: str, tracer=None, seq_tmp=None):
        """Run op `i` of the sequence; returns its wall seconds or None."""
        sc = self.spark.sparkContext
        group = f"perfbench-{self.seq_no}-{i}-{op}"
        sc.setJobGroup(group, op, interruptOnCancel=True)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [group])
        if tracer is not None:
            from layers import ckpt_snapshot
            before = ckpt_snapshot(seq_tmp)
        self.attempted += 1
        timer.start()
        try:
            e0, t0 = time.time(), time.perf_counter()
            df = self.queries[op](self.spark, str(self.in_dir))
            tb = time.perf_counter()
            rows = df.collect()
            t1 = time.perf_counter()
            cols = df.columns
        except Exception as e:  # a failed op is reported, not fatal
            self.failures.append(f"{op}: {type(e).__name__}: "
                                 f"{str(e).splitlines()[0][:200]}")
            return None
        finally:
            timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
        got = oracle.table_hash(cols, [tuple(r) for r in rows])
        want, n_want = self.oracle.expected(op)
        ok = got == want
        if not ok:
            self.failures.append(f"{op}: result hash differs from the "
                                 f"oracle ({len(rows)} rows, oracle "
                                 f"{n_want})")
        self.op_log.setdefault(op, []).append((t1 - t0, len(rows), ok))
        if tracer is not None:
            tracer.record(op, group, e0, e0 + (tb - t0), e0 + (t1 - t0),
                          before, ckpt_snapshot(seq_tmp),
                          resume=i == self.wl.resume_op)
        return t1 - t0

    def run_sequence(self, tracer=None, warm=False):
        """All ops once on a fresh temp dir: (wall, resume) seconds, or
        None if an op failed. The warm pass runs each distinct op once."""
        self.seq_no += 1
        ops = list(enumerate(self.wl.ops))
        if warm:
            ops = [(i, op) for i, op in ops if op not in self.wl.ops[:i]]
        d = self.fresh_tmp()
        try:
            times = [self.run_op(i, op, tracer, d) for i, op in ops]
        finally:
            self.drop_tmp(d)
        if any(t is None for t in times):
            return None
        by_index = dict(zip((i for i, _ in ops), times))
        return sum(times), by_index.get(self.wl.resume_op)

    # ---- self-checks -----------------------------------------------------
    def self_checks(self) -> list[str]:
        import pyarrow.parquet as pq
        bad = []
        gen = self.wl.inputs
        again, other = self.work / "check_same", self.work / "check_other"
        inputs.generate(again, self.args.seed, **gen)
        if inputs.digest(again) != inputs.digest(self.in_dir):
            bad.append("same seed gave different input bytes")
        inputs.generate(other, self.args.seed + 1, **gen)
        table, col = (("documents", "doc_id") if gen.get("doc_offset")
                      else ("orders", "o_orderkey"))
        a = pq.read_table(self.in_dir / f"{table}.parquet", columns=[col])
        b = pq.read_table(other / f"{table}.parquet", columns=[col])
        if a.equals(b):
            bad.append("a different seed did not move the point set")
        self.release()
        persisted = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        if persisted:
            bad.append(f"{persisted} persisted RDDs survive cleanup")
        left = sorted(p.name for p in self.tmp.iterdir())
        if left:
            bad.append(f"temp state survives cleanup: {left[:5]}")
        return bad


def spread(xs: list[float]) -> str:
    """Median, plus the highest percentile with at least ten samples
    beyond it (p90 needs 100 samples), and the sample count."""
    n = len(xs)
    s = f"median {statistics.median(xs):.4f}"
    for p in (99, 90):
        if n * (100 - p) >= 1000:
            q = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
            return f"{s} p{p} {q:.4f} (n={n})"
    return f"{s} (n={n})"


def stop_processes(spark, procs: ProcTree) -> None:
    """Stop the session, the gateway JVM and wait for every descendant."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    pids = procs.tree(os.getpid()) - {os.getpid()}
    while pids and time.time() < deadline:
        time.sleep(0.1)
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not ((ROOT / "__spark_entry__.py").is_file()
            and (ROOT / "dle").is_dir()):
        print(f"perfbench: no engine sources in {ROOT}", file=sys.stderr)
        return 2
    watchdog = threading.Timer(HARD_LIMIT_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()
    work = ROOT / ".perfbench_work" / (
        f"{args.workload}-{args.seed}-{os.getpid()}")
    bench = Bench(args, work)
    procs = ProcTree()
    procs.start()
    try:
        return bench_main(bench, args, procs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_main(bench: Bench, args, procs: ProcTree) -> int:
    wl = bench.wl
    bench.configure_env()
    sizes = inputs.generate(bench.in_dir, args.seed, **wl.inputs)
    bench.start_session()
    spark = bench.spark
    try:
        bench.oracle = oracle.Oracle(str(bench.in_dir), bench.oracle_sql)
        # the oracle is lazy per op; fill it now, outside every timing
        warm_t0 = time.perf_counter()
        for op in wl.ops:
            bench.oracle.expected(op)
        oracle_s = time.perf_counter() - warm_t0
        warm = bench.run_sequence(warm=True)
        setup_s = time.perf_counter() - T_START - oracle_s

        seqs = []
        steal0 = procs.cpu_ticks()
        rss0 = len(procs.samples)
        t0 = time.perf_counter()
        while True:
            res = bench.run_sequence()
            if res is not None:
                seqs.append(res)
            age = time.perf_counter() - T_START
            last = res[0] if res else 0.0
            if (time.perf_counter() - t0 >= args.seconds
                    or age + last > RUN_LIMIT_S):
                break
        walls = [w for w, _ in seqs]
        # the mean, not the peak: which Python workers happen to coexist
        # at one instant moved the peak by a third from run to run
        rss = procs.samples[rss0:] or procs.samples[-1:]
        rss_mb = statistics.fmean(rss) / 2**20
        steal1 = procs.cpu_ticks()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

        tracer = None
        if args.trace and walls:
            from layers import Tracer
            tracer = Tracer(spark, bench.cores)
            tracer.profile(True)
            traced = bench.run_sequence(tracer)
            tracer.profile(False)
            if traced is None:
                tracer = None
            else:
                tracer.dump(ROOT / ".perfbench_work" / "traces" / (
                    f"{args.workload}-seed{args.seed}.json"))
        checks = bench.self_checks()
        bench.oracle.close()
    finally:
        procs.sample()
        stop_processes(spark, procs)
        procs.stop()

    failed = len(bench.failures)
    correct = failed == 0 and not checks and warm is not None and bool(walls)
    items = (wl.items if isinstance(wl.items, int) else sizes[wl.items])

    print(f"workload {args.workload} seed {args.seed} cores {bench.cores} "
          f"item {wl.item} items/sequence {items}")
    print(f"inputs {json.dumps(sizes, sort_keys=True)}")
    for op, log in bench.op_log.items():
        ts = " ".join(f"{t:.3f}" for t, _, _ in log)
        print(f"op {op:32s} rows {log[0][1]:6d} "
              f"oracle {'ok' if all(k for *_, k in log) else 'MISMATCH'} "
              f"s [{ts}]  (first = warm pass)")
    for f in bench.failures + checks:
        print(f"FAIL {f}")
    if walls:
        print(f"wall_s {spread(walls)}  sequences "
              f"[{' '.join(f'{w:.3f}' for w in walls)}]")
    if wl.resume_op is not None and walls:
        print(f"resume_s {spread([r for _, r in seqs])}")
    print(f"host steal {100 * steal:.1f}% of CPU time while timing")
    print(f"persisted RDDs left by ops, released between sequences: "
          f"{bench.leaked_rdds}")
    print(f"peak rss: tree {procs.peak / 2**20:.1f} MB, Spark JVM "
          f"{procs.peak_jvm / 2**20:.1f} MB, up to {procs.peak_procs} "
          f"processes")
    print(f"failed_op_share {failed}/{bench.attempted} = "
          f"{failed / max(1, bench.attempted):.4f}")

    if tracer is not None:
        metrics = tracer.metrics(statistics.median(walls))
        from layers import unit
        for k, v in metrics.items():
            print(f"layer {k:28s} {v:16.4f} {unit(k)}")
        out = {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}
    elif walls:
        wall = statistics.median(walls)
        out = {"setup_s": {"value": setup_s, "unit": "s"},
               "wall_s": {"value": wall, "unit": "s"},
               "items_per_s": {"value": items / wall, "unit": "1/s"},
               "rss_mb": {"value": rss_mb, "unit": "MB"}}
        for k, v in out.items():
            print(f"{k:12s} {v['value']:.4f} {v['unit']}")
    else:
        out = {}
    sys.stdout.flush()
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": failed, "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
