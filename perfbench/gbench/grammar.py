"""The ``grammar`` workload: the paper's dplyr verbs, read through the
registry (``SparkEntry.queries``) over the seeded TPC-H-shaped tables."""
import json
import os
import re
import subprocess
import sys

from . import datagen, session

QUERIES = [
    "q1_pricing", "q3_topk", "q4_window", "q5_region_revenue",
    "d_mutate_grouped", "d_ranks", "d_cum_u", "b_rank_u", "d_rolling",
    "d_slice_max", "d_summarise", "d_distinct", "d_join_left",
    "t_pivot_wider", "t_pivot_longer", "t_fill_global", "f_fct_lump",
]

CHECK_LINE = re.compile(r"^(OK|FAIL)\s+([A-Za-z0-9_]+)")


class Grammar:
    def __init__(self, spark, rec, root, work):
        self.spark, self.rec, self.root = spark, rec, root
        self.jvm = spark._jvm
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "out")
        self.rows = {}

    def generate(self, seed):
        return datagen.write_tables(seed, self.data)

    def _frame(self, op, name):
        with self.rec.span(op, "registry"):
            fn = self.jvm.graft.SparkEntry.queries().apply(name)
        with self.rec.span(op, "construct"):
            jdf = fn.apply(self.spark._jsparkSession, self.data)
        if self.rec.traced:
            with self.rec.span(op, "plan"):
                jdf.queryExecution().executedPlan()
        return jdf

    def warmup(self):
        """One untimed pass that also dumps every output for the oracle."""
        os.makedirs(self.out, exist_ok=True)
        oracle = self.jvm.graft.SparkEntry.oracleSql()
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as fh:
            json.dump({q: oracle.apply(q) for q in QUERIES if oracle.contains(q)}, fh)
        for i, q in enumerate(QUERIES):
            def dump(op, q=q):
                self._frame(op, q).write().mode("overwrite").parquet(os.path.join(self.out, q))
            self.rec.run(-1, f"w{i}", "read", q, dump)
            session.isolate(self.spark)

    def run_pass(self, p):
        """One pass over the queries."""
        for i, q in enumerate(QUERIES):
            def read(op, q=q):
                jdf = self._frame(op, q)
                with self.rec.span(op, "exec"):
                    jdf.write().format("noop").mode("overwrite").save()
            self.rec.run(p, f"p{p}o{i}", "read", q, read)
            session.isolate(self.spark)

    def source_metrics(self, passes):
        return {"sources.files_written": 0, "sources.rows_rewritten_per_changed_row": 0.0,
                "sources.files_live": 0}

    def spoiled(self, op, wrong):
        """Whether a wrong output found by ``check`` fails operation ``op``:
        a query whose output is wrong fails every one of its reads."""
        return op.name in wrong

    def read_rows_per_pass(self):
        return sum(self.rows.values())

    def check(self):
        """Compare every dumped output with its DuckDB oracle through the
        repository's ``tools/check.py``; returns ``{query: error}`` for
        the outputs that are missing or wrong."""
        proc = subprocess.run(
            [sys.executable, os.path.join(self.root, "tools", "check.py"), self.data, self.out],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=self.root)
        verdict = {}
        for line in proc.stdout.splitlines():
            m = CHECK_LINE.match(line)
            if m:
                verdict[m.group(2)] = "" if m.group(1) == "OK" else line.strip()[:300]
                rows = re.search(r"\((\d+) rows", line)
                if rows:
                    self.rows[m.group(2)] = int(rows.group(1))
        wrong = {q: verdict.get(q, "no verdict from tools/check.py") for q in QUERIES
                 if verdict.get(q, None) != ""}
        return wrong
