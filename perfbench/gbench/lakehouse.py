"""The ``lakehouse`` workload: manifested orders tables under seeded
writes, each write followed by a small read.

One pass is one lifecycle of a fresh table, in the shapes of the
repository's own manifested-table queries (``graft.QueriesOps``):

- ``x_stream_sink``: the pass's orders arrive as three micro-batches
  (``o_orderkey`` mod 3) through ``ManifestSink.appendBatch``, two files
  each, and batch 1 is redelivered, which the batch-id guard must absorb;
- ``x_merge_into``: ``mergeAtomic`` updates keys = 5 (mod 11) (~8% of
  rows), deletes keys = 2 (mod 13) (~8%) and inserts the keys = 0
  (mod 17) shifted by ``INSERT_SHIFT`` (~6%);
- ``x_update_where``: ``updateWhereAtomic`` where key = 1 (mod 5) (20%);
- ``x_delete_where``: ``deleteWhereAtomic`` where key = 3 (mod 7) (~14%).

Those predicates hold rows in every file, so every file is rewritten. A
file-pruned ``deleteWhereAtomic`` follows, over keys only the merge's
inserted file holds, then ``compactSmallFilesAtomic``. After every write
a read runs ``readManifested`` plus a graft summarise. Every delta is
drawn from the seed and the pass number and kept on disk, so each
table can be checked against a DuckDB replay of the same deltas.
"""
import copy
import os
from dataclasses import dataclass
from typing import Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq

from . import datagen, session
from .trace import short_error

BATCHES, FILES_PER_BATCH, REDELIVERED = 3, 2, 1
INSERT_SHIFT = 1_000_000
UPDATE_PRED = "o_orderkey % 5 = 1"
DELETE_PRED = "o_orderkey % 7 = 3"
PRUNED_DELETE_PRED = f"o_orderkey >= {INSERT_SHIFT} AND o_orderkey % 2 = 0"
COMPACT_TARGET_BYTES = 4 << 20
# the appends, the redelivery, merge, update, the two deletes, compaction
WRITES_PER_PASS = BATCHES + 1 + 5
COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "o_orderdate", "o_orderpriority"]
UPDATE_SET = {"o_totalprice": "o_totalprice + 1.0", "o_orderpriority": "'1-URGENT'"}


@dataclass
class Write:
    span: str                  # layer span the timed call runs under
    name: str
    call: Callable             # the timed call into graft
    replay: tuple              # how the DuckDB replay applies it
    changed: Callable = None   # (result, new files) -> (rewritten files, rows changed)


def _names(seq):
    """A Scala Seq[String] as a Python list."""
    return list(seq.mkString("\n").split("\n")) if seq.nonEmpty() else []


class Lakehouse:
    def __init__(self, spark, rec, root, work):
        self.spark, self.rec = spark, rec
        self.jvm = spark._jvm
        self.js = spark._jsparkSession
        self.srcs = self.jvm.graft.sources.Sources
        self.F = self.jvm.org.apache.spark.sql.functions
        self.to_seq = self.jvm.org.apache.spark.api.python.PythonUtils.toSeq
        self.to_map = self.jvm.org.apache.spark.api.python.PythonUtils.toScalaMap
        self.deltas = os.path.join(work, "deltas")
        self.lake = os.path.join(work, "lake")
        self.final = os.path.join(work, "final")
        self.replay = {}       # pass -> successful writes, in order, for the DuckDB replay
        self.summaries = {}    # pass -> [(writes replayed, Spark summary rows)] before compaction
        self.writes = []       # (pass, files written, rows rewritten, rows changed, files live)

    # ---- inputs ------------------------------------------------------------

    def generate(self, seed):
        self.seed = seed
        self.n_orders = datagen.rows("orders")
        self.n_customers = datagen.rows("customer")
        os.makedirs(self.deltas)
        os.makedirs(self.lake)
        probe = os.path.join(self.deltas, "schema.parquet")
        datagen.write_parquet(self._orders(np.random.default_rng(seed), [0]), probe)
        self.schema = self.spark.read.parquet(probe).schema
        return {"orders_per_pass": self.n_orders}

    def _orders(self, rng, keys):
        return datagen.orders_frame(rng, keys, self.n_customers)

    def _rng(self, p, step):
        return np.random.default_rng([self.seed, p + 1, step])

    def _delta(self, name, frame):
        path = os.path.join(self.deltas, name + ".parquet")
        datagen.write_parquet(frame, path)
        # an explicit schema keeps schema inference (a Spark job) out of the loop
        schema = self.schema
        if "op" in frame.columns:
            schema = copy.deepcopy(schema).add("op", "string")
        return path, self.spark.read.schema(schema).parquet(path)._jdf

    def table(self, p):
        return os.path.join(self.lake, f"orders-p{p}")

    # ---- manifest bookkeeping (outside the timed calls) ---------------------

    def manifest(self, table):
        conf = self.js.sessionState().newHadoopConf()
        names = self.srcs.readManifest(conf, table)
        return set(_names(names.get())) if names.isDefined() else set()

    def _rows_in(self, table, names):
        return sum(pq.ParquetFile(os.path.join(table, n)).metadata.num_rows for n in names)

    # ---- one pass ----------------------------------------------------------

    def run_pass(self, p):
        """One lifecycle of a fresh table."""
        table = self.table(p)
        self.replay[p], self.summaries[p], files = [], [], set()
        frame = self._orders(self._rng(p, 0), np.arange(self.n_orders))
        batches = list(range(BATCHES))
        batches.insert(REDELIVERED + 1, REDELIVERED)
        steps = [lambda b=b: self._append(p, table, frame, b) for b in batches]
        steps += [lambda: self._merge(p, table), lambda: self._where(table, "update", UPDATE_PRED),
                  lambda: self._where(table, "delete", DELETE_PRED),
                  lambda: self._where(table, "delete", PRUNED_DELETE_PRED),
                  lambda: self._compact(table)]
        for i, step in enumerate(steps):
            w = step()                               # the delta is prepared untimed
            files = self._write(p, f"p{p}o{2 * i}", table, w, files)
            self.read(p, f"p{p}o{2 * i + 1}", table)
            if i == len(steps) - 2:
                # the last multi-file state, before compaction, is checked too
                self.summaries[p].append((len(self.replay[p]), self._collect(table)))

    def _write(self, p, op, table, w, before):
        """Run one timed write; returns the table's files after it."""
        result = {}

        def body(op):
            with self.rec.span(op, w.span):
                result["r"] = w.call()
        if not self.rec.run(p, op, "write", w.name, body):
            return self.manifest(table)
        self.replay[p].append(w.replay)
        after = self.manifest(table)
        new = after - before
        rewritten, changed = w.changed(result["r"], new) if w.changed else ([], 0)
        self.writes.append((p, len(new), self._rows_in(table, rewritten), changed, len(after)))
        return after

    def _append(self, p, table, frame, b):
        part = frame[frame["o_orderkey"] % BATCHES == b]
        path, jdf = self._delta(f"p{p}-batch{b}", part)
        # a batch id already appended is a redelivery and must change nothing
        landed = {w[2] for w in self.replay[p] if w[0] == "append"}
        return Write("streaming.append", "append",
                     lambda: self.jvm.graft.streaming.ManifestSink.appendBatch(
                         jdf, table, b, FILES_PER_BATCH),
                     ("none",) if b in landed else ("append", path, b))

    def _merge(self, p, table):
        keys = np.arange(self.n_orders)
        dels = keys[keys % 13 == 2]
        upd = keys[(keys % 11 == 5) & (keys % 13 != 2)]
        ins = keys[keys % 17 == 0] + INSERT_SHIFT
        frame = self._orders(self._rng(p, 1), np.concatenate([upd, ins, dels]))
        frame["op"] = ["upsert"] * (len(upd) + len(ins)) + ["delete"] * len(dels)
        path, jdf = self._delta(f"p{p}-merge", frame)
        return Write("sources.merge", "merge",
                     lambda: self.srcs.mergeAtomic(self.js, table, jdf, "o_orderkey", "op",
                                                   1, self.to_map({})),
                     ("merge", path),
                     changed=lambda r, new: (_names(r.rewritten()),
                                             int(r.updated()) + int(r.deleted())))

    def _where(self, table, kind, pred):
        if kind == "update":
            assign = self.to_map({c: self.F.expr(e) for c, e in UPDATE_SET.items()})
            call = lambda: self.srcs.updateWhereAtomic(self.js, table, self.F.expr(pred), assign)
        else:
            call = lambda: self.srcs.deleteWhereAtomic(self.js, table, self.F.expr(pred))
        return Write(f"sources.{kind}", kind, call, (kind, pred),
                     changed=lambda r, new: (list(new), int(r._2())))

    def _compact(self, table):
        return Write("sources.compact", "compact",
                     lambda: self.srcs.compactSmallFilesAtomic(self.js, table,
                                                               COMPACT_TARGET_BYTES),
                     ("none",))

    def _summary(self, op, table):
        F = self.F
        with self.rec.span(op, "sources.read"):
            jdf = self.srcs.readManifested(self.js, table)
        with self.rec.span(op, "construct"):
            T = self.jvm.scala.Tuple2
            out = (self.jvm.graft.core.GraftFrame.apply(jdf)
                   .groupBy(self.to_seq(["o_orderstatus"]))
                   .summarise(self.to_seq([
                       T("n", F.count(F.lit(1))),
                       T("total", self.jvm.graft.functions.Exact.dsum(F.col("o_totalprice"))),
                       T("last_date", F.max(F.col("o_orderdate")))]))
                   .ungroup().df())
        if self.rec.traced:
            with self.rec.span(op, "plan"):
                out.queryExecution().executedPlan()
        return out

    def _collect(self, table):
        """The summary read's rows, untimed and untraced, for the check."""
        from pyspark.sql import DataFrame
        traced, self.rec.traced = self.rec.traced, False
        try:
            return sorted(tuple(r) for r in DataFrame(self._summary("check", table),
                                                      self.spark).collect())
        except Exception as e:
            return short_error(e)
        finally:
            self.rec.traced = traced

    def read(self, p, op, table):
        def body(op):
            out = self._summary(op, table)
            with self.rec.span(op, "exec"):
                out.write().format("noop").mode("overwrite").save()
        self.rec.run(p, op, "read", "summary", body)
        session.isolate(self.spark)

    def warmup(self):
        self.run_pass(-1)

    def read_rows_per_pass(self):
        # one summary row per order status after each of the pass's writes
        return len(datagen.STATUSES) * WRITES_PER_PASS

    def source_metrics(self, passes):
        """Copy-on-write and file-count metrics of the writes in ``passes``."""
        picked = [w for w in self.writes if w[0] in passes]
        changed = sum(w[3] for w in picked)
        return {
            "sources.files_written": sum(w[1] for w in picked) / len(passes),
            "sources.rows_rewritten_per_changed_row":
                sum(w[2] for w in picked) / changed if changed else 0.0,
            # the files each read after a write scans
            "sources.files_live": sum(w[4] for w in picked) / len(picked) if picked else 0.0,
        }

    # ---- check ---------------------------------------------------------------

    def spoiled(self, op, wrong):
        """Whether a wrong output found by ``check`` fails operation ``op``:
        a wrong table fails every write of its pass, a wrong summary every
        read."""
        return f"{'table' if op.kind == 'write' else 'read'}#p{op.pass_no}" in wrong

    def _apply(self, con, w):
        cols = ", ".join(COLUMNS)
        if w[0] == "append":
            con.execute(f"INSERT INTO t SELECT {cols} FROM read_parquet('{w[1]}')")
        elif w[0] == "merge":
            con.execute(f"DELETE FROM t WHERE o_orderkey IN "
                        f"(SELECT o_orderkey FROM read_parquet('{w[1]}'))")
            con.execute(f"INSERT INTO t SELECT {cols} FROM read_parquet('{w[1]}') "
                        "WHERE op = 'upsert'")
        elif w[0] == "update":
            sets = ", ".join(f"{c} = {e}" for c, e in UPDATE_SET.items())
            con.execute(f"UPDATE t SET {sets} WHERE {w[1]}")
        elif w[0] == "delete":
            con.execute(f"DELETE FROM t WHERE {w[1]}")

    def _duck_summary(self, con):
        dsum = self.jvm.graft.functions.Exact.dsumSql("o_totalprice")
        return sorted(con.execute(
            f"SELECT o_orderstatus, count(*), {dsum}, max(o_orderdate) FROM t "
            "GROUP BY o_orderstatus").fetchall())

    def check(self):
        """Replay each pass's successful writes in DuckDB; compare the
        pre-compaction summary read, the final table and a final summary
        read with Spark's. Returns ``{check: error}`` for the ones that
        differ: ``table#p<n>`` or ``read#p<n>``."""
        wrong = {}
        cols = ", ".join(COLUMNS)
        for p, writes in sorted(self.replay.items()):
            con = duckdb.connect()
            con.execute(f"CREATE TABLE t AS SELECT {cols} FROM "
                        f"read_parquet('{self.deltas}/schema.parquet') LIMIT 0")
            checkpoints = dict(self.summaries[p])
            checkpoints[len(writes)] = self._collect(self.table(p))
            for i, w in enumerate(writes + [None]):
                if i in checkpoints:
                    duck = self._duck_summary(con)
                    if checkpoints[i] != duck:
                        wrong.setdefault(f"read#p{p}", f"after {i} writes: spark "
                                         f"{checkpoints[i]} != duckdb {duck}")
                if w is not None:
                    self._apply(con, w)
            try:
                if not os.path.isdir(self.table(p)):
                    raise RuntimeError("no table was written")
                out = os.path.join(self.final, f"p{p}")
                self.srcs.readManifested(self.js, self.table(p)).write().mode(
                    "overwrite").parquet(out)
                got = f"(SELECT {cols} FROM read_parquet('{out}/*.parquet'))"
                diff = con.execute(
                    f"SELECT (SELECT count(*) FROM (SELECT * FROM t EXCEPT ALL "
                    f"SELECT * FROM {got})), (SELECT count(*) FROM (SELECT * FROM {got} "
                    "EXCEPT ALL SELECT * FROM t))").fetchone()
                if diff != (0, 0):
                    wrong[f"table#p{p}"] = (f"{diff[0]} replayed rows missing, "
                                            f"{diff[1]} unexpected rows")
            except Exception as e:  # the comparison itself failing is a wrong output
                wrong[f"table#p{p}"] = short_error(e)
            con.close()
        return wrong
