"""Per-layer metrics for one traced op, read from Spark's own stores.

Sources, all usable with ``spark.ui.enabled=false``:

* Spark execution: job ids by job group from the status tracker, stage
  metrics from ``AppStatusStore.stageData``;
* Arrow/Python UDF: the Python-node SQL metrics of every SQL execution
  the op started (``SQLAppStatusStore``);
* kernel: cProfile rows from the ``perf`` UDF profiler, filtered to
  ``dle/geom/kernel.py`` and ``dle/geom/wkb.py``;
* checkpoint: the manifests and files under the run's temp directory.

Spans (op, build, collect, and the op's jobs and stages as children) are
kept as Chrome trace events.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

KERNEL_FNS = ("planarize", "boolean", "clip_bbox", "points_in_rings",
              "rasterize_mask", "dilate", "erode", "area")
WKB_PARSE = ("parse", "parse_rings", "parse_point")
WKB_ENCODE = ("point_wkb", "polygon_wkb", "multipolygon_wkb", "rings_wkb")

# SQL metric display names of the Python evaluation nodes
UDF_METRICS = {
    "time to run Python workers": "udf.python_run_s",
    "time to start Python workers": "udf.python_start_s",
    "time to initialize Python workers": "udf.python_start_s",
    "data sent to Python workers": "udf.bytes_to_python",
    "data returned from Python workers": "udf.bytes_from_python",
}
_PY_NODE = re.compile(r"Python|Pandas|InArrow")

PER_LAYER = (
    ["driver.build_s", "driver.idle_s",
     "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
     "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
     "spark.shuffle_read_bytes", "spark.spill_bytes",
     "spark.core_utilization",
     "udf.python_run_s", "udf.python_start_s", "udf.bytes_to_python",
     "udf.bytes_from_python", "udf.rows_from_python"]
    + [f"kernel.{f}.{m}" for f in KERNEL_FNS for m in ("calls", "cum_s")]
    + ["wkb.parse_s", "wkb.encode_s",
       "ckpt.run_stage_s", "ckpt.stages_committed", "ckpt.stages_skipped",
       "ckpt.bytes_written", "ckpt.files_written", "ckpt.resume_s",
       "trace.overhead_s"])

UNITS = {"spark.jobs": "count", "spark.stages": "count",
         "spark.tasks": "count", "spark.core_utilization": "ratio",
         "udf.rows_from_python": "count", "ckpt.stages_committed": "count",
         "ckpt.stages_skipped": "count", "ckpt.files_written": "count"}


def unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith(".calls"):
        return "count"
    return "bytes" if "bytes" in name else "s"


def _geom_file(fname: str, mod: str) -> bool:
    """The profiler reports file names without directories."""
    return fname == mod or fname.endswith(f"/dle/geom/{mod}")


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A SQL metric's display string ('1,000', '3.4 s', 'total (min, med,
    max ...)\\n8.5 KiB (...)') as a number in bytes, seconds or rows."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    u = m.group(2)
    return v * _SIZE.get(u, _TIME.get(u, 1.0))


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Collects the per-layer metrics of traced ops in one session."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.events: list[dict] = []
        self.totals = dict.fromkeys(PER_LAYER, 0.0)
        self.wall = 0.0     # summed wall time of the traced ops
        self._last_exec = self._max_execution_id()

    # ---------------------------------------------------------- profiler
    def profile(self, on: bool) -> None:
        if on:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            self.spark.profile.clear()
        else:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    def _kernel(self) -> None:
        results = self.spark._profiler_collector._perf_profile_results
        for stats in results.values():
            if stats is None:
                continue
            for (fname, _, fn), (_, nc, _, ct, callers) in \
                    stats.stats.items():
                if _geom_file(fname, "kernel.py") and fn in KERNEL_FNS:
                    self.totals[f"kernel.{fn}.calls"] += nc
                    self.totals[f"kernel.{fn}.cum_s"] += ct
                elif _geom_file(fname, "wkb.py"):
                    fam = ("wkb.parse_s" if fn in WKB_PARSE else
                           "wkb.encode_s" if fn in WKB_ENCODE else None)
                    if fam is None:
                        continue
                    names = WKB_PARSE if fam == "wkb.parse_s" else WKB_ENCODE
                    # time entering the family from outside it, so nested
                    # calls (parse_rings -> parse) count once
                    self.totals[fam] += sum(
                        c[3] for k, c in callers.items()
                        if not (_geom_file(k[0], "wkb.py") and k[2] in names))
        self.spark.profile.clear()

    # ------------------------------------------------------------ spark
    def _stages(self, job_ids) -> list:
        jvm = self.sc._jvm
        empty = jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(jvm.double, 0)
        out, seen = [], set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            for s in (info.stageIds if info else ()):
                if s in seen:
                    continue
                seen.add(s)
                data = self.store.stageData(s, False, empty, False, quantiles)
                out.extend(data.apply(i) for i in range(data.size()))
        return out

    def _max_execution_id(self) -> int:
        ex = self.sql_store.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())),
                   default=-1)

    def _udf(self) -> None:
        """Sum the Python-node metrics of every SQL execution started
        since the last call; accumulator ids dedupe AQE re-plans."""
        ex = self.sql_store.executionsList()
        top = self._last_exec
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= self._last_exec:
                continue
            top = max(top, eid)
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            seen = set()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not _PY_NODE.search(node.name()):
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    key = UDF_METRICS.get(m.name())
                    if key is None and m.name() == "number of output rows":
                        key = "udf.rows_from_python"
                    if key is None or m.accumulatorId() in seen:
                        continue
                    seen.add(m.accumulatorId())
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        self.totals[key] += parse_metric(v.get())
        self._last_exec = top

    # ------------------------------------------------------------- op
    def record(self, op: str, group: str, t0: float, t_built: float,
               t1: float, ckpt_before: dict, ckpt_after: dict,
               resume: bool) -> None:
        wall = t1 - t0
        tot = self.totals
        tot["driver.build_s"] += t_built - t0
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        stages = self._stages(job_ids)
        busy = []
        run_s = 0.0
        for st in stages:
            if str(st.status()) == "SKIPPED":
                continue
            tot["spark.stages"] += 1
            tot["spark.tasks"] += st.numCompleteTasks()
            run_s += st.executorRunTime() / 1000.0
            tot["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            tot["spark.gc_s"] += st.jvmGcTime() / 1000.0
            tot["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["spark.spill_bytes"] += (st.memoryBytesSpilled()
                                         + st.diskBytesSpilled())
            a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if a is not None and b is not None:
                busy.append((max(a, t0), min(b, t1)))
                self._span(f"stage {st.stageId()}", a, b, 3,
                           {"tasks": st.numTasks(), "job_group": group})
        tot["spark.jobs"] += len(job_ids)
        tot["spark.executor_run_s"] += run_s
        tot["driver.idle_s"] += wall - _union(busy)
        self.wall += wall
        for j in job_ids:
            jd = self.store.job(j)
            a, b = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if a is not None and b is not None:
                self._span(f"job {j}", a, b, 2, {"job_group": group})
        self._udf()
        self._kernel()
        self._ckpt(ckpt_before, ckpt_after, resume)
        if resume:
            tot["ckpt.resume_s"] += wall
        self._span(op, t0, t1, 0, {"job_group": group})
        self._span(f"{op}.build", t0, t_built, 1, {})
        self._span(f"{op}.collect", t_built, t1, 1, {})

    def _ckpt(self, before: dict, after: dict, resume: bool) -> None:
        """Stages new or grown in the manifests were committed by this op;
        on the resume call, stages left unchanged were skipped."""
        tot = self.totals
        for stage, (rows, wall_ms) in after["stages"].items():
            if before["stages"].get(stage, (None,))[0] == rows:
                tot["ckpt.stages_skipped"] += resume
            else:
                tot["ckpt.stages_committed"] += 1
                tot["ckpt.run_stage_s"] += wall_ms / 1000.0
        new = {p: s for p, s in after["files"].items()
               if before["files"].get(p) != s}
        tot["ckpt.files_written"] += len(new)
        tot["ckpt.bytes_written"] += sum(s[0] for s in new.values())

    def _span(self, name, a, b, tid, args) -> None:
        self.events.append({"name": name, "ph": "X", "pid": 1, "tid": tid,
                            "ts": round(a * 1e6), "dur": round((b - a) * 1e6),
                            "args": args})

    def metrics(self, untraced_wall: float) -> dict:
        out = dict(self.totals)
        out["spark.core_utilization"] = (
            out["spark.executor_run_s"] / (self.wall * self.cores)
            if self.wall else 0.0)
        out["trace.overhead_s"] = self.wall - untraced_wall
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"traceEvents": self.events}))


def ckpt_snapshot(root: Path) -> dict:
    """Committed stages (rows, commit wall time) from every checkpoint
    manifest under `root`, plus (size, mtime) of every file there."""
    stages, files = {}, {}
    if root.exists():
        for p in root.rglob("*"):
            if not p.is_file():
                continue
            st = p.stat()
            files[str(p)] = (st.st_size, st.st_mtime_ns)
            if p.name.endswith(".manifest.jsonl"):
                rows = [json.loads(ln) for ln in p.read_text().splitlines()
                        if ln.strip()]
                stages[str(p)] = (
                    len(rows), max((r.get("wall_ms", 0) for r in rows),
                                   default=0))
    return {"stages": stages, "files": files}


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
