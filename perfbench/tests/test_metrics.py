"""Unit tests for the benchmark's metric code, on synthetic spans and jobs.

Run from the root of a checkout:  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from gbench import metrics, session  # noqa: E402
from gbench.metrics import Job, Span, Stage  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        values = list(range(1, 101))          # 1..100
        v, pct = metrics.tail(values)
        self.assertEqual(v, 90)               # 91..100 lie beyond it
        self.assertEqual(sum(1 for x in values if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        values = [5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12]
        v, pct = metrics.tail(values)
        self.assertEqual(v, 2)
        self.assertAlmostEqual(pct, 100.0 * 2 / 12)

    def test_too_few_samples_is_the_max(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0))
        self.assertEqual(metrics.tail(list(range(10))), (9, 100.0))

    def test_eleven_samples(self):
        self.assertEqual(metrics.tail(list(range(11)))[0], 0)

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_ms([]), 0)
        self.assertEqual(metrics.union_ms([(4, 4)]), 0)

    def test_self_time_is_span_minus_union_of_children(self):
        # children overlap each other and stick out of the span on the right
        children = [(10, 30), (20, 40), (90, 120)]
        self.assertEqual(metrics.self_ms(0, 100, children), 100 - 30 - 10)

    def test_self_time_ignores_children_outside(self):
        self.assertEqual(metrics.self_ms(0, 100, [(150, 200), (-50, -10)]), 100)

    def test_slot_idle_frac(self):
        # two stages overlapping over [0, 150] ms, 4 slots -> 600 slot-ms
        stages = [(0, 100), (50, 150)]
        self.assertAlmostEqual(metrics.slot_idle_frac(150, stages, 4), 0.75)
        self.assertAlmostEqual(metrics.slot_idle_frac(600, stages, 4), 0.0)
        self.assertEqual(metrics.slot_idle_frac(0, [], 4), 0.0)


def job_events(job_id, group, start, end, stage_ids, execution_id=None):
    props = {"spark.jobGroup.id": group} if group else {}
    if execution_id is not None:
        props["spark.sql.execution.id"] = str(execution_id)
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": start,
         "Stage IDs": stage_ids, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end},
    ]


def stage_events(stage_id, submit, complete, tasks):
    ev = [{"Event": "SparkListenerStageSubmitted",
           "Stage Info": {"Stage ID": stage_id, "Submission Time": submit}}]
    for launch, finish, ok in tasks:
        ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
                   "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
                   "Task Info": {"Launch Time": launch, "Finish Time": finish},
                   "Task Metrics": {"Executor CPU Time": 2_000_000, "JVM GC Time": 1,
                                    "Input Metrics": {"Bytes Read": 100},
                                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                                    "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                             "Local Bytes Read": 2},
                                    "Disk Bytes Spilled": 0, "Peak Execution Memory": 64,
                                    "Output Metrics": {"Records Written": 5}}})
    ev.append({"Event": "SparkListenerStageCompleted",
               "Stage Info": {"Stage ID": stage_id, "Submission Time": submit,
                              "Completion Time": complete}})
    return ev


def parse(events):
    return metrics.parse_events(json.dumps(e) for e in events)


class AttributionTest(unittest.TestCase):
    def setUp(self):
        g = metrics.job_group
        self.spans = [
            Span("p0o0", "op", 0, 1000),
            Span("p0o0", "registry", 0, 10),
            Span("p0o0", "construct", 10, 300),
            Span("p0o0", "plan", 300, 350),
            Span("p0o0", "exec", 350, 1000),
            Span("p0o1", "op", 1000, 1500),
            Span("p0o1", "streaming.append", 1000, 1500),
        ]
        events = []
        events += job_events(0, g("p0o0", "construct"), 50, 150, [0])
        events += stage_events(0, 50, 150, [(50, 150, True)])
        events += job_events(1, g("p0o0", "exec"), 400, 900, [0, 1], execution_id=7)
        events += stage_events(1, 400, 900, [(400, 900, True), (400, 600, False)])
        events += job_events(2, g("p0o1", "streaming.append"), 1100, 1300, [2])
        events += stage_events(2, 1100, 1300, [(1100, 1300, True)])
        # a job the benchmark did not group (an unrelated caller)
        events += job_events(3, "", 1100, 1200, [3])
        events += stage_events(3, 1100, 1200, [(1100, 1200, True)])
        events.append({"Event": metrics.SQL_START, "executionId": 7, "sparkPlanInfo": {
            "nodeName": "AdaptiveSparkPlan", "children": [{
                "nodeName": "Window", "children": [{
                    "nodeName": "Sort", "children": [{"nodeName": "Exchange", "children": [
                        {"nodeName": "Scan parquet", "children": []}]}]}]}]}})
        self.log = parse(events)

    def test_jobs_map_to_spans_by_group(self):
        by = metrics.jobs_by_span(self.log)
        self.assertEqual([j.job_id for j in by[("p0o0", "construct")]], [0])
        self.assertEqual([j.job_id for j in by[("p0o0", "exec")]], [1])
        self.assertEqual([j.job_id for j in by[("p0o1", "streaming.append")]], [2])
        self.assertNotIn(3, [j.job_id for js in by.values() for j in js])

    def test_parse_group(self):
        self.assertEqual(metrics.parse_group("p1o2|sources.merge"), ("p1o2", "sources.merge"))
        self.assertIsNone(metrics.parse_group("someone else's group"))
        self.assertIsNone(metrics.parse_group(""))

    def test_rollup(self):
        r = metrics.layer_rollup(self.spans, self.log, slots=4, n_passes=1, read_rows=3)
        self.assertEqual(r["registry.lookup_ms"], 10)
        self.assertEqual(r["construct.ms"], 290 - 100)
        self.assertEqual(r["construct.prejobs"], 1)
        self.assertEqual(r["construct.prejob_ms"], 100)
        self.assertEqual(r["plan.ms"], 50)
        self.assertEqual(r["exec.ms"], 650)
        self.assertEqual(r["streaming.append_ms"], 500)
        # exec jobs: 1 and 2; job 1 lists stage 0, already run by the pre-job
        self.assertEqual(r["exec.jobs"], 2)
        self.assertEqual(r["exec.stages"], 2)
        self.assertEqual(r["exec.stages_reused"], 1)
        self.assertEqual(r["exec.tasks"], 3)
        self.assertEqual(r["exec.tasks_failed"], 1)
        self.assertEqual(r["exec.task_busy_ms"], 500 + 200 + 200)
        self.assertAlmostEqual(r["exec.task_cpu_ms"], 6.0)
        self.assertEqual(r["exec.input_bytes"], 300)
        self.assertEqual(r["exec.shuffle_read_bytes"], 9)
        self.assertEqual(r["exec.output_rows"], 3 + 15)
        self.assertEqual(r["exec.peak_exec_mem_bytes"], 64)
        # stages 1 and 2 cover 500 + 200 ms; 4 slots
        self.assertAlmostEqual(r["exec.slot_idle_frac"], 1 - 900 / (700 * 4))
        # op 0: 1000 ms minus jobs [50,150] and [400,900]; op 1: 500 minus 200
        self.assertEqual(r["driver.ms"], (1000 - 600) + (500 - 200))
        self.assertEqual((r["plan.nodes"], r["plan.windows"], r["plan.sorts"],
                          r["plan.exchanges"]), (4, 1, 1, 1))

    def test_rollup_is_per_pass(self):
        one = metrics.layer_rollup(self.spans, self.log, 4, 1)
        two = metrics.layer_rollup(self.spans, self.log, 4, 2)
        self.assertEqual(two["exec.ms"], one["exec.ms"] / 2)
        self.assertEqual(two["registry.lookup_ms"], one["registry.lookup_ms"])
        self.assertEqual(two["exec.slot_idle_frac"], one["exec.slot_idle_frac"])


class PlanCountTest(unittest.TestCase):
    def test_wrappers_are_not_operators(self):
        tree = {"nodeName": "WholeStageCodegen (1)", "children": [
            {"nodeName": "InputAdapter", "children": [
                {"nodeName": "ShuffleQueryStage", "children": [
                    {"nodeName": "BroadcastExchange", "children": [
                        {"nodeName": "ReusedExchange", "children": []}]}]}]}]}
        self.assertEqual(metrics.plan_counts(tree),
                         {"nodes": 2, "exchanges": 1, "windows": 0, "sorts": 0})


class CpuTest(unittest.TestCase):
    @staticmethod
    def stat(path, name, utime, stime):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(f"7 ({name}) S 1 7 7 0 -1 4194560 0 0 0 0 {utime} {stime} 0 0 20 0\n")

    def test_jit_threads_are_kept_apart(self):
        with tempfile.TemporaryDirectory() as proc:
            tick = 1.0 / session.CLK_TCK
            self.stat(f"{proc}/7/stat", "java", 900, 100)
            self.stat(f"{proc}/7/task/7/stat", "java", 10, 5)
            self.stat(f"{proc}/7/task/8/stat", "C2 CompilerThre", 300, 20)
            self.stat(f"{proc}/7/task/9/stat", "C1 CompilerThre", 50, 0)
            self.stat(f"{proc}/7/task/10/stat", "Executor task l", 400, 60)
            # a name with a space and a parenthesis, as /proc shows it
            self.stat(f"{proc}/7/task/11/stat", "a (b) c", 1, 1)
            program, jit = session.cpu_s(7, proc)
            self.assertAlmostEqual(program, 630 * tick)
            self.assertAlmostEqual(jit, 370 * tick)


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        root = os.path.dirname(os.path.dirname(HERE))
        path = os.path.join(root, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json not present")
        import run
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
