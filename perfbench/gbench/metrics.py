"""Pure metric code: percentiles, interval arithmetic, event-log parsing
and the per-layer roll-up. Nothing here talks to Spark, so the unit tests
drive it with synthetic spans and jobs.

Times are milliseconds since the epoch, the clock both Python's
``time.time()`` and Spark's event log use.
"""
import glob
import json
import os
from dataclasses import dataclass, field

TAIL_BEYOND = 10


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile)``: the sample with exactly ``beyond``
    larger samples, and the share of samples at or below it, in percent.
    With too few samples for that, the maximum is returned at 100.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no values")
    if n <= beyond:
        return s[-1], 100.0
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n


def union_ms(intervals):
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_ms(start, end, children):
    """A span's duration minus the union of its children inside it."""
    return (end - start) - union_ms(clip(children, start, end))


def slot_idle_frac(task_busy_ms, stage_intervals, slots):
    """1 - busy / (time any stage ran x slots); 0 when no stage ran."""
    capacity = union_ms(stage_intervals) * slots
    if capacity <= 0:
        return 0.0
    return max(0.0, 1.0 - task_busy_ms / capacity)


# ---- spans -----------------------------------------------------------------

@dataclass
class Span:
    op: str       # operation id, unique within a run ("p0o3")
    name: str     # layer span name ("construct", "exec", "sources.merge", ...)
    start: float
    end: float


def job_group(op, name):
    return f"{op}|{name}"


def parse_group(group):
    """``(op, span name)`` of a benchmark job group, else ``None``."""
    if not group or "|" not in group:
        return None
    op, name = group.split("|", 1)
    return op, name


# ---- Spark event log ---------------------------------------------------------

@dataclass
class Job:
    job_id: int
    group: str
    start: float
    end: float = 0.0
    stage_ids: list = field(default_factory=list)
    execution_id: int = -1


@dataclass
class Stage:
    stage_id: int
    submit: float = 0.0
    complete: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    busy_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    records_written: int = 0


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)        # job id -> Job
    stages: dict = field(default_factory=dict)      # stage id -> Stage (submitted ones)
    plans: dict = field(default_factory=dict)       # execution id -> final plan tree


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def event_log_files(log_dir):
    """Event files under ``log_dir``, in write order (rolling or single)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")]

    def order(f):
        base = os.path.basename(f)
        parts = base.split("_")
        idx = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(f), idx, base)
    return sorted(files, key=order)


def parse_events(lines):
    """Fold Spark listener events (JSON lines) into jobs, stages and plans."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = Job(
                job_id=e["Job ID"], group=props.get("spark.jobGroup.id") or "",
                start=float(e["Submission Time"]), stage_ids=list(e.get("Stage IDs", [])),
                execution_id=int(props.get("spark.sql.execution.id", -1)))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end = float(e["Completion Time"])
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit = float(info.get("Submission Time") or 0.0)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit = float(info.get("Submission Time") or st.submit)
            st.complete = float(info.get("Completion Time") or 0.0)
        elif kind == "SparkListenerTaskEnd":
            _fold_task(log.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"])), e)
        elif kind in (SQL_START, SQL_AQE_UPDATE) and "sparkPlanInfo" in e:
            log.plans[int(e["executionId"])] = e["sparkPlanInfo"]
    return log


def _fold_task(st, e):
    st.tasks += 1
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        st.failed_tasks += 1
    info = e.get("Task Info") or {}
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    if finish and launch:
        st.busy_ms += finish - launch
    m = e.get("Task Metrics") or {}
    st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
    st.gc_ms += m.get("JVM GC Time", 0)
    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    st.peak_exec_mem_bytes = max(st.peak_exec_mem_bytes, m.get("Peak Execution Memory", 0))
    st.records_written += (m.get("Output Metrics") or {}).get("Records Written", 0)


def read_event_log(log_dir):
    lines = []
    for f in event_log_files(log_dir):
        with open(f) as fh:
            lines.extend(fh)
    return parse_events(lines)


# ---- plans -------------------------------------------------------------------

WRAPPERS = ("WholeStageCodegen", "InputAdapter", "AdaptiveSparkPlan")


def plan_counts(tree):
    """Operator counts of a ``sparkPlanInfo`` tree, wrappers excluded."""
    counts = {"nodes": 0, "exchanges": 0, "windows": 0, "sorts": 0}
    stack = [tree]
    while stack:
        node = stack.pop()
        stack.extend(node.get("children") or [])
        name = (node.get("nodeName") or "").strip()
        if name.startswith(WRAPPERS) or name.endswith("QueryStage"):
            continue
        counts["nodes"] += 1
        if name in ("Exchange", "BroadcastExchange"):
            counts["exchanges"] += 1
        elif name.startswith("Window"):
            counts["windows"] += 1
        elif name == "Sort":
            counts["sorts"] += 1
    return counts


# ---- roll-up -----------------------------------------------------------------

# layer span name -> metric carrying its total time
SPAN_METRIC = {
    "plan": "plan.ms",
    "exec": "exec.ms",
    "sources.read": "sources.read_ms",
    "sources.merge": "sources.merge_ms",
    "sources.update": "sources.update_ms",
    "sources.delete": "sources.delete_ms",
    "sources.compact": "sources.compact_ms",
    "streaming.append": "streaming.append_ms",
}
# stage counter -> metric
STAGE_METRIC = {
    "busy_ms": "exec.task_busy_ms",
    "cpu_ms": "exec.task_cpu_ms",
    "gc_ms": "exec.gc_ms",
    "input_bytes": "exec.input_bytes",
    "shuffle_write_bytes": "exec.shuffle_write_bytes",
    "shuffle_read_bytes": "exec.shuffle_read_bytes",
    "spill_bytes": "exec.spill_bytes",
}
# metrics that are not summed over passes
NOT_PER_PASS = ("registry.lookup_ms", "exec.slot_idle_frac", "exec.peak_exec_mem_bytes")


def jobs_by_span(log):
    """``{(op, span name): [Job]}`` for every job the benchmark grouped."""
    out = {}
    for job in log.jobs.values():
        key = parse_group(job.group)
        if key is not None:
            out.setdefault(key, []).append(job)
    return out


def job_iv(job):
    return (job.start, job.end or job.start)


def stage_split(jobs, stages):
    """Stages the jobs ran, and the count of listed stages they skipped
    because an earlier job's output was reused."""
    ran, reused = set(), 0
    for j in jobs:
        for sid in j.stage_ids:
            st = stages.get(sid)
            if st is not None and st.submit and st.submit >= j.start:
                ran.add(sid)
            else:
                reused += 1
    return [stages[s] for s in sorted(ran)], reused


def layer_rollup(spans, log, slots, n_passes, read_rows=0):
    """Per-layer metrics per pass from traced spans and the event log.

    ``spans`` holds one ``op`` span per operation plus its layer spans.
    Construction pre-jobs are the jobs grouped under ``construct``; every
    other job an operation runs counts toward ``exec.*``. ``read_rows``
    is the number of rows the traced reads returned.
    """
    by_span = jobs_by_span(log)
    r = {k: 0.0 for k in SPAN_METRIC.values()}
    r.update({"construct.ms": 0.0, "construct.prejobs": 0, "construct.prejob_ms": 0.0})
    lookups = []
    for s in spans:
        if s.name == "op":
            continue
        ivs = [job_iv(j) for j in by_span.get((s.op, s.name), [])]
        if s.name == "registry":
            lookups.append(s.end - s.start)
        elif s.name == "construct":
            r["construct.ms"] += self_ms(s.start, s.end, ivs)
            r["construct.prejobs"] += len(ivs)
            r["construct.prejob_ms"] += union_ms(clip(ivs, s.start, s.end))
        else:
            r[SPAN_METRIC[s.name]] += s.end - s.start
    r["registry.lookup_ms"] = sum(lookups) / len(lookups) if lookups else 0.0

    exec_jobs = [j for (_, name), js in by_span.items() if name != "construct" for j in js]
    stages, reused = stage_split(exec_jobs, log.stages)
    r["exec.jobs"] = len(exec_jobs)
    r["exec.stages"] = len(stages)
    r["exec.stages_reused"] = reused
    r["exec.tasks"] = sum(st.tasks for st in stages)
    r["exec.tasks_failed"] = sum(st.failed_tasks for st in stages)
    for attr, name in STAGE_METRIC.items():
        r[name] = sum(getattr(st, attr) for st in stages)
    r["exec.output_rows"] = read_rows + sum(st.records_written for st in stages)
    r["exec.peak_exec_mem_bytes"] = max((st.peak_exec_mem_bytes for st in stages), default=0)
    r["exec.slot_idle_frac"] = slot_idle_frac(
        r["exec.task_busy_ms"], [(st.submit, st.complete) for st in stages], slots)

    op_jobs = {}
    for (op, _), js in by_span.items():
        op_jobs.setdefault(op, []).extend(job_iv(j) for j in js)
    r["driver.ms"] = sum(self_ms(s.start, s.end, op_jobs.get(s.op, []))
                         for s in spans if s.name == "op")

    plan = {"nodes": 0, "exchanges": 0, "windows": 0, "sorts": 0}
    exec_ids = {j.execution_id for (_, name), js in by_span.items() if name == "exec"
                for j in js if j.execution_id >= 0}
    for eid in exec_ids:
        if eid in log.plans:
            for k, v in plan_counts(log.plans[eid]).items():
                plan[k] += v
    r.update({"plan." + k: v for k, v in plan.items()})
    return {k: (v if k in NOT_PER_PASS else v / n_passes) for k, v in r.items()}
