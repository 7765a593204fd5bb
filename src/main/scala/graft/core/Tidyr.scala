package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** tidyr reshaping verbs (reference:
  * /root/reference/datar_polars/api/tidyr.py; tests/tidyr).
  * All pure `DataFrame => DataFrame` Catalyst plans.
  *
  * Scale notes: pivot_longer is a per-row explode (no shuffle);
  * pivot_wider is one groupBy (one shuffle) with an explicit value
  * list so no discovery pass is needed; fill is a window over the
  * fill order (one shuffle per partitioning); complete/expand build
  * the key grid from per-column distincts (tiny) and join back.
  */
object Tidyr {

  /** pivot_longer: stack selected columns into (namesTo, valuesTo).
    * Values are cast to a common type (default double for numerics).
    */
  def pivotLonger(df: DataFrame, sel: Selector, namesTo: String = "name",
                  valuesTo: String = "value", valueType: String = "double"): DataFrame = {
    val cols = sel.resolve(df.schema)
    val keep = df.columns.toSeq.filterNot(cols.contains)
    val stacked = explode(array(cols.map(c =>
      struct(lit(c).as(namesTo), col(c).cast(valueType).as(valuesTo))): _*)).as("__kv")
    df.select(keep.map(col) :+ stacked: _*)
      .select(keep.map(col) :+ col(s"__kv.$namesTo") :+ col(s"__kv.$valuesTo"): _*)
  }

  /** pivot_wider with an explicit (ordered) value list — required at
    * scale to skip the value-discovery job. */
  def pivotWider(df: DataFrame, idCols: Seq[String], namesFrom: String,
                 valuesFrom: Column, agg: Column => Column,
                 nameValues: Seq[String], prefix: String = "",
                 fill: Option[Column] = None): DataFrame = {
    val pivoted = df.groupBy(idCols.map(col): _*)
      .pivot(namesFrom, nameValues)
      .agg(agg(valuesFrom))
    val renamed = nameValues.foldLeft(pivoted)((d, v) =>
      d.withColumnRenamed(v, prefix + v))
    fill.fold(renamed)(f =>
      nameValues.foldLeft(renamed)((d, v) =>
        d.withColumn(prefix + v, coalesce(col(prefix + v), f))))
  }

  /** pivot_wider over MULTIPLE namesFrom columns joined by namesSep
    * (tidyr's names_sep): one derived name column, then the standard
    * single-column pivot. */
  def pivotWiderMulti(df: DataFrame, idCols: Seq[String], namesFrom: Seq[String],
                      namesSep: String, valuesFrom: Column, agg: Column => Column,
                      nameValues: Seq[String], prefix: String = "",
                      fill: Option[Column] = None): DataFrame =
    pivotWider(
      df.withColumn("__names", concat_ws(namesSep, namesFrom.map(col): _*)),
      idCols, "__names", valuesFrom, agg, nameValues, prefix, fill)

  /** pivot_wider names_glue / names_sort / names_repair (reference
    * api/tidyr.py:374-380): driver-side output-name shaping over the
    * explicit value list. `namesGlue` is a template with one
    * `{column}` placeholder per namesFrom column (tidyr's glue spec,
    * e.g. "st_{o_orderstatus}_total"); `namesSort` orders the output
    * value columns by shaped name; namesRepair="check_unique" fails
    * loudly when the glue collapses two value tuples onto one name
    * (tidyr's default repair). `nameValues` holds one value TUPLE per
    * output column, aligned with namesFrom. Same single-shuffle pivot
    * as [[pivotWider]] — shaping is pure metadata. */
  def pivotWiderShaped(df: DataFrame, idCols: Seq[String], namesFrom: Seq[String],
                       valuesFrom: Column, agg: Column => Column,
                       nameValues: Seq[Seq[String]], namesGlue: String,
                       namesSort: Boolean = false,
                       namesRepair: String = "check_unique",
                       fill: Option[Column] = None): DataFrame = {
    require(namesFrom.nonEmpty, "pivot_wider: namesFrom must be non-empty")
    require(nameValues.forall(_.length == namesFrom.length),
      "pivot_wider: each nameValues tuple must match namesFrom arity")
    require(Set("check_unique", "minimal")(namesRepair),
      s"pivot_wider: names_repair must be check_unique/minimal, got '$namesRepair'")
    val shaped = nameValues.map { vs =>
      namesFrom.zip(vs).foldLeft(namesGlue) { case (acc, (c, v)) =>
        acc.replace(s"{$c}", v) } }
    if (namesRepair == "check_unique") {
      val dups = shaped.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
      require(dups.isEmpty,
        s"pivot_wider: names_glue produced duplicate column names " +
          s"(names_repair=check_unique): ${dups.mkString(", ")}")
    }
    val sep = ""
    val joined = nameValues.map(_.mkString(sep))
    // the check_unique repair above validates the GLUED display
    // names; the joined pivot KEYS must also be collision-free
    // (possible only if a name value embeds the U+0001 separator) —
    // a collision would silently merge two tuples' aggregates.
    require(joined.distinct.size == joined.size,
      "pivot_wider: namesFrom value tuples collide as pivot keys " +
        "(a name value embeds the reserved U+0001 separator)")
    val base = pivotWider(
      df.withColumn("__names", concat_ws(sep, namesFrom.map(col): _*)),
      idCols, "__names", valuesFrom, agg, joined, "", fill)
    val renamed = joined.zip(shaped).foldLeft(base) { case (d, (j, sh)) =>
      d.withColumnRenamed(j, sh) }
    if (namesSort)
      renamed.select(idCols.map(col) ++ shaped.sorted.map(col): _*)
    else renamed
  }

  /** pivot_wider(unused_fn=) (reference api/tidyr.py:380 — declared
    * there, dropped by the reference's own body at tidyr.py:427-440;
    * implemented here to match the declared surface): columns that
    * are neither id, names, nor values are normally discarded by the
    * pivot — `unused` summarizes each of them per id-group with its
    * own aggregate and keeps the summary beside the pivoted columns.
    * Implementation is conditional aggregation (one agg per pivot
    * value via when(namesFrom = v, valuesFrom)) so the pivot columns
    * AND the unused summaries come out of a SINGLE groupBy — one
    * shuffle total, vs the two-agg-plus-join shape a naive
    * pivot-then-join would cost. */
  def pivotWiderUnused(df: DataFrame, idCols: Seq[String], namesFrom: String,
                       valuesFrom: Column, agg: Column => Column,
                       nameValues: Seq[String],
                       unused: Seq[(String, Column => Column)],
                       prefix: String = "",
                       fill: Option[Column] = None): DataFrame = {
    require(nameValues.nonEmpty, "pivot_wider: nameValues must be non-empty")
    val pivotAggs = nameValues.map(v =>
      agg(when(col(namesFrom) === lit(v), valuesFrom)).as(prefix + v))
    val unusedAggs = unused.map { case (c, f) => f(col(c)).as(c) }
    val aggs = pivotAggs ++ unusedAggs
    val out = df.groupBy(idCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    fill.fold(out)(f => nameValues.foldLeft(out)((d, v) =>
      d.withColumn(prefix + v, coalesce(col(prefix + v), f))))
  }

  /** pivot_longer with names_sep: stack, then split the name column
    * into several columns (tidyr names_sep / names_pattern via regex). */
  def pivotLongerNames(df: DataFrame, sel: Selector, namesTo: Seq[String],
                       namesSep: String, valuesTo: String = "value",
                       valueType: String = "double"): DataFrame =
    separate(pivotLonger(df, sel, "__name", valuesTo, valueType),
      "__name", namesTo, namesSep)

  /** pivot_wider with name DISCOVERY: runs one extra distinct-scan job
    * over `namesFrom` to enumerate the output columns (tidyr's default
    * behavior). Documented cost: an extra pass over the data before the
    * pivot — at scale prefer the explicit-list overload above, which is
    * exactly what Spark's own `.pivot(col)` would also have to do. */
  def pivotWiderDiscover(df: DataFrame, idCols: Seq[String], namesFrom: String,
                         valuesFrom: Column, agg: Column => Column,
                         prefix: String = "", fill: Option[Column] = None): DataFrame = {
    val names = df.select(col(namesFrom).cast("string")).distinct()
      .orderBy(namesFrom).collect().map(_.getString(0)).toSeq
    pivotWider(df, idCols, namesFrom, valuesFrom, agg, names, prefix, fill)
  }

  /** separate: split a string column into fixed parts by regex, with
    * tidyr's extra/fill strategies (reference api/tidyr.py:450
    * `_separate_col`; semantics pinned by
    * tests/tidyr/test_tidyr_verbs.py test_separate_merge):
    *
    *  - extra="merge": cap the split at n pieces so the LAST piece
    *    absorbs the remainder — Spark's `split(c, sep, n)` IS Python's
    *    `re.split(sep, v, maxsplit=n-1)`;
    *  - extra="drop"/"warn": full split, excess pieces truncated;
    *  - fill="left": a shortfall pads NULLs on the LEFT (piece i reads
    *    parts[i - shortfall]; get() is NULL on both out-of-bounds
    *    directions, which is exactly the pad);
    *  - fill="right"/"warn": NULLs pad the right (default);
    *  - convert: piece name → Spark type, cast after the split
    *    (reference `convert={"b": float}`; a malformed piece fails
    *    loudly under ANSI, matching polars' strict cast — NULL pieces
    *    stay NULL).
    *
    * Pure projection — no shuffle in any mode. */
  def separate(df: DataFrame, c: String, into: Seq[String], sep: String,
               remove: Boolean = true, extra: String = "warn",
               fill: String = "right",
               convert: Map[String, String] = Map.empty): DataFrame = {
    require(Set("warn", "drop", "merge")(extra),
      s"separate: extra must be one of warn/drop/merge, got '$extra'")
    require(Set("warn", "right", "left")(fill),
      s"separate: fill must be one of warn/right/left, got '$fill'")
    val n = into.length
    val parts = if (extra == "merge") split(col(c), sep, n) else split(col(c), sep)
    val shortfall = lit(n) - least(size(parts), lit(n))
    val out = into.zipWithIndex.foldLeft(df) { case (d, (name, i)) =>
      val idx = if (fill == "left") lit(i) - shortfall else lit(i)
      val piece = get(parts, idx) // NULL past either end (ANSI-safe)
      d.withColumn(name, convert.get(name).fold(piece)(piece.cast))
    }
    if (remove) out.drop(c) else out
  }

  /** extract: regex capture groups into new columns. */
  def extract(df: DataFrame, c: String, into: Seq[String], regex: String,
              remove: Boolean = true): DataFrame = {
    val out = into.zipWithIndex.foldLeft(df) { case (d, (n, i)) =>
      d.withColumn(n, regexp_extract(col(c), regex, i + 1))
    }
    if (remove) out.drop(c) else out
  }

  /** unite columns into one string column. */
  def unite(df: DataFrame, name: String, sel: Selector, sep: String = "_",
            remove: Boolean = true): DataFrame = {
    val cols = sel.resolve(df.schema)
    val united = df.withColumn(name, concat_ws(sep, cols.map(col): _*))
    if (remove) united.drop(cols.filterNot(_ == name): _*) else united
  }

  /** fill: propagate last (direction="down") / next ("up") / both
    * ("downup") non-null value along `order` within `part`.
    *
    * GROUPED-ONLY: `part = Nil` would be a single-partition global
    * window (the whole frame on one task), so it fails loudly — the
    * ungrouped form is [[fillGlobal]], a distributed two-phase prefix
    * scan (ScanFns.withFillLast). */
  def fill(df: DataFrame, sel: Selector, order: Seq[Column],
           part: Seq[Column] = Nil, direction: String = "down"): DataFrame = {
    require(part.nonEmpty,
      "ungrouped fill collapses the frame onto one task: use Tidyr.fillGlobal")
    val base = Window.partitionBy(part: _*)
    val wDown = base.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, 0)
    val wUp = base.orderBy(order: _*).rowsBetween(0, Window.unboundedFollowing)
    sel.resolve(df.schema).foldLeft(df) { (d, c) =>
      val filled = direction match {
        case "down"   => last(col(c), ignoreNulls = true).over(wDown)
        case "up"     => first(col(c), ignoreNulls = true).over(wUp)
        case "downup" => coalesce(last(col(c), ignoreNulls = true).over(wDown),
                                  first(col(c), ignoreNulls = true).over(wUp))
        case "updown" => coalesce(first(col(c), ignoreNulls = true).over(wUp),
                                  last(col(c), ignoreNulls = true).over(wDown))
      }
      d.withColumn(c, filled)
    }
  }

  /** Ungrouped tidyr::fill over a whole-frame total order, scale-safe:
    * each direction is ONE two-phase last-non-null prefix scan
    * (ScanFns.withFillLast) along the order — "down" sorts it
    * ascending, "up" descending (`.asc`/`.desc` are exact reverses),
    * "downup"/"updown" chain the two scans. Every selected column
    * fills in the same passes; no single-partition window anywhere in
    * the plan. Cost: one sort + two streamed passes per direction (see
    * the ScanFns persist contract).
    *
    * `order` columns must be PLAIN expressions (no .asc/.desc — both
    * traversal directions are derived here), and must be a total order
    * up to rows with identical fill values: rows tied on `order` may
    * interleave differently between directions, which is only
    * observable if tied rows disagree on a filled column's nullity or
    * value — include the filled columns in `order` (like t_fill does
    * with l_tax) or use unique keys. */
  def fillGlobal(df: DataFrame, sel: Selector, order: Seq[Column],
                 direction: String = "down"): DataFrame = {
    require(Set("down", "up", "downup", "updown").contains(direction),
      s"fill: unknown direction '$direction'")
    val cols = sel.resolve(df.schema)
    val down = (d: DataFrame) =>
      graft.functions.ScanFns.withFillLast(d, cols, order.map(_.asc))
    val up = (d: DataFrame) =>
      graft.functions.ScanFns.withFillLast(d, cols, order.map(_.desc))
    direction match {
      case "down"   => down(df)
      case "up"     => up(df)
      case "downup" => up(down(df))
      case "updown" => down(up(df))
    }
  }

  def dropNa(df: DataFrame, sel: Selector): DataFrame =
    df.na.drop(sel.resolve(df.schema))

  def replaceNa(df: DataFrame, repl: Map[String, Any]): DataFrame =
    df.na.fill(repl)

  /** complete: expand to the full grid of observed key values, left-
    * joining existing rows; missing value columns filled from `fill`.
    */
  def complete(df: DataFrame, keys: Seq[String],
               fill: Map[String, Any] = Map.empty): DataFrame = {
    val grid = keys.map(k => df.select(k).distinct()).reduce(_.crossJoin(_))
    val joined = grid.join(df, keys, "left")
    if (fill.isEmpty) joined else joined.na.fill(fill)
  }

  /** expand/crossing: cartesian grid of the given one-column frames. */
  def expandGrid(frames: DataFrame*): DataFrame =
    frames.map(_.distinct()).reduce(_.crossJoin(_))

  /** nesting: only observed combinations. */
  def nesting(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.map(col): _*).distinct()

  /** uncount: replicate each row `weight` times; weight <= 0 drops the
    * row (two-arg sequence(1, 0) would step BACKWARD and duplicate it,
    * so guard — explode drops the null array). */
  def uncount(df: DataFrame, weight: Column): DataFrame =
    df.withColumn("__w", explode(
        when(weight >= 1, sequence(lit(1), weight.cast("int")))))
      .drop("__w")

  /** separate_rows: split + explode a delimited string column. */
  def separateRows(df: DataFrame, c: String, sep: String): DataFrame =
    df.withColumn(c, explode(split(col(c), sep)))

  /** chop: collapse `values` into deterministic (order-sorted) arrays
    * per key. One shuffle. */
  def chop(df: DataFrame, keys: Seq[String], values: Seq[String],
           order: Column): DataFrame = {
    val aggs = values.map(v =>
      transform(
        array_sort(collect_list(struct(order.as("o"), col(v).as("v")))),
        s => s.getField("v")).as(v))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** unchop: explode array columns in lockstep (arrays_zip). */
  def unchop(df: DataFrame, values: Seq[String]): DataFrame = {
    val zipped = df.withColumn("__z", explode(arrays_zip(values.map(col): _*)))
    values.foldLeft(zipped)((d, v) => d.withColumn(v, col(s"__z.$v"))).drop("__z")
  }

  /** nest: whole non-key sub-rows into array<struct> per key. */
  def nest(df: DataFrame, keys: Seq[String], as: String, order: Column): DataFrame = {
    val payload = df.columns.toSeq.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct((order.as("__o") +: payload.map(col)): _*))),
        s => struct(payload.map(p => s.getField(p).as(p)): _*)).as(as))
  }

  /** unnest: explode array<struct> back to rows. */
  def unnest(df: DataFrame, c: String): DataFrame = {
    val fields = df.schema(c).dataType match {
      case org.apache.spark.sql.types.ArrayType(st: StructType, _) => st.fieldNames.toSeq
      case other => throw new IllegalArgumentException(s"unnest: $c is $other")
    }
    val ex = df.withColumn("__e", explode(col(c)))
    fields.foldLeft(ex)((d, f) => d.withColumn(f, col(s"__e.$f")))
      .drop("__e").drop(c)
  }

  /** unnest_longer: one row per element of an array column (index
    * optionally kept, tidyr's indices_to). */
  def unnestLonger(df: DataFrame, c: String,
                   indicesTo: Option[String] = None): DataFrame =
    indicesTo match {
      case None => df.withColumn(c, explode(col(c)))
      case Some(idx) =>
        df.select(df.columns.map(col).toSeq :+ posexplode(col(c)).as(Seq(idx, s"__$c")): _*)
          .drop(c).withColumnRenamed(s"__$c", c)
    }

  /** unnest_wider: one column per struct field (= unpack). */
  def unnestWider(df: DataFrame, c: String): DataFrame = unpack(df, c)

  /** hoist: pull single fields out of a struct column, keeping it. */
  def hoist(df: DataFrame, c: String, fields: (String, String)*): DataFrame =
    fields.foldLeft(df) { case (d, (as, field)) =>
      d.withColumn(as, col(s"$c.$field"))
    }

  /** pack: gather columns into a struct column. */
  def pack(df: DataFrame, name: String, sel: Selector): DataFrame = {
    val cols = sel.resolve(df.schema)
    df.withColumn(name, struct(cols.map(col): _*)).drop(cols: _*)
  }

  /** unpack: expand a struct column into top-level columns. */
  def unpack(df: DataFrame, c: String): DataFrame = {
    val fields = df.schema(c).dataType.asInstanceOf[StructType].fieldNames.toSeq
    fields.foldLeft(df)((d, f) => d.withColumn(f, col(s"$c.$f"))).drop(c)
  }

  /** base::t — transpose a (small) frame: id column becomes the
    * header, remaining numeric columns become rows. Stack + pivot;
    * the value-discovery pass makes this a small-frame verb (R's t()
    * is a matrix op — document the cost, don't hide it). */
  def transpose(df: DataFrame, idCol: String, valueType: String = "double"): DataFrame = {
    val valueCols = df.columns.toSeq.filterNot(_ == idCol)
    val long = pivotLonger(df, TidySelect.cols(valueCols: _*), "__col", "__val", valueType)
    pivotWiderDiscover(long.withColumnRenamed(idCol, "__hdr"),
      Seq("__col"), "__hdr", col("__val"), c => first(c))
      .withColumnRenamed("__col", "column")
  }

  /** full_seq: the complete arithmetic sequence spanning a column. */
  def fullSeq(df: DataFrame, c: Column, period: Long, as: String): DataFrame =
    df.agg(min(c).as("__lo"), max(c).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"), lit(period))).as(as))
}
