package graft.graphite

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import GraphiteQL._
import GraphiteModel._

/** Graphite Render target evaluator (app/vmselect/graphite/eval.go
  * evalExpr / evalFuncExpr): a metric expression fetches from the store;
  * a function call dispatches on the case-sensitive function registry.
  */
object GraphiteEval {

  final case class GraphiteError(msg: String) extends Exception(msg)

  def exec(ctx: GraphiteCtx, target: String): SeriesSet =
    eval(ctx, parse(target))

  def eval(ctx: GraphiteCtx, e: Expr): SeriesSet =
    eval0(ctx, e)

  /** last-wins map merge WITHOUT relying on the session-global
    * spark.sql.mapKeyDedupPolicy (ADVICE r5 #4: mutating shared conf per
    * evaluation changed map_concat semantics for every concurrent query
    * on the SparkSession): keys present in `upd` are filtered out of
    * `base` first, so map_concat never sees a duplicate under any
    * policy. Tag updates overwrite like the reference's s.Tags mutation.
    */
  def tagMerge(base: Column, upd: Column): Column =
    map_concat(map_filter(base, (k, _) => !map_contains_key(upd, k)), upd)

  private def eval0(ctx: GraphiteCtx, e: Expr): SeriesSet = e match {
    case MetricExpr(q) => fetch(ctx, globPredicate(q), q)
    case fe: FuncExpr =>
      val f = GraphiteFuncs.registry.getOrElse(
        fe.name,
        throw GraphiteError(s"unknown function '${fe.name}'"))
      f(ctx, fe)
    case other =>
      throw GraphiteError(
        s"unexpected expression ${other.render}; want metric expression or function call")
  }

  // ---- arg plumbing (transform.go:3515-3620 getArg family) ----------

  def arg(fe: FuncExpr, name: String, idx: Int): Arg =
    optArg(fe, name, idx).getOrElse(
      throw GraphiteError(s"missing arg '$name' at position $idx in ${fe.name}"))

  def optArg(fe: FuncExpr, name: String, idx: Int): Option[Arg] = {
    fe.args.find(_.name == name).orElse {
      if (idx >= fe.args.size) None
      else {
        val a = fe.args(idx)
        if (a.name.nonEmpty) {
          if (a.name != name)
            // positional slot taken by a different named arg
            None
          else Some(a)
        } else Some(a)
      }
    }
  }

  def num(fe: FuncExpr, name: String, idx: Int): Double =
    arg(fe, name, idx).expr match {
      case NumberExpr(n) => n
      case other =>
        throw GraphiteError(s"arg '$name' of ${fe.name} must be a number; got ${other.render}")
    }

  def optNum(fe: FuncExpr, name: String, idx: Int, dflt: Double): Double =
    optArg(fe, name, idx) match {
      case None => dflt
      case Some(Arg(_, NoneExpr)) => dflt
      case Some(Arg(_, NumberExpr(n))) => n
      case Some(Arg(_, other)) =>
        throw GraphiteError(s"arg '$name' of ${fe.name} must be a number; got ${other.render}")
    }

  def str(fe: FuncExpr, name: String, idx: Int): String =
    arg(fe, name, idx).expr match {
      case StringExpr(s) => s
      case other =>
        throw GraphiteError(s"arg '$name' of ${fe.name} must be a string; got ${other.render}")
    }

  def optStr(fe: FuncExpr, name: String, idx: Int, dflt: String): String =
    optArg(fe, name, idx) match {
      case None => dflt
      case Some(Arg(_, NoneExpr)) => dflt
      case Some(Arg(_, StringExpr(s))) => s
      case Some(Arg(_, other)) =>
        throw GraphiteError(s"arg '$name' of ${fe.name} must be a string; got ${other.render}")
    }

  def optBool(fe: FuncExpr, name: String, idx: Int, dflt: Boolean): Boolean =
    optArg(fe, name, idx) match {
      case None => dflt
      case Some(Arg(_, NoneExpr)) => dflt
      case Some(Arg(_, BoolExpr(b))) => b
      case Some(Arg(_, other)) =>
        throw GraphiteError(s"arg '$name' of ${fe.name} must be a bool; got ${other.render}")
    }

  def seriesArg(ctx: GraphiteCtx, fe: FuncExpr, name: String, idx: Int): SeriesSet =
    eval(ctx, arg(fe, name, idx).expr)

  def expectArgs(fe: FuncExpr, lo: Int, hi: Int): Unit =
    if (fe.args.size < lo || fe.args.size > hi)
      throw GraphiteError(
        s"unexpected number of args for ${fe.name}; got ${fe.args.size}; want " +
          (if (lo == hi) s"$lo" else s"$lo to $hi"))

  /** node selectors: numbers index path parts, strings index tags
    * (transform.go:3634 getNodes)
    */
  def nodeArgs(fe: FuncExpr, from: Int): Seq[Expr] =
    fe.args.drop(from).map { a =>
      a.expr match {
        case n: NumberExpr => n
        case s: StringExpr => s
        case other =>
          throw GraphiteError(s"unexpected node arg ${other.render}; want number or string")
      }
    }

  // ---- shared per-series combinators --------------------------------

  /** standard per-series windows */
  def wOrd: org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(col("sid")).orderBy(col("t"))
  def wAll: org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(col("sid"))

  /** Column-level series-set transform: new value / name / tag updates /
    * pathExpr handling in one select. Tag updates overwrite (reference
    * mutates s.Tags) via [[tagMerge]], independent of the session's
    * mapKeyDedupPolicy.
    */
  def mapSet(
      ss: SeriesSet,
      value: Column = col("value"),
      name: Column = col("name"),
      tagsUpd: Seq[(String, Column)] = Nil,
      setPathExpr: Boolean = true,
      consol: Column = col("consol"),
      xff: Column = col("xff")): SeriesSet = {
    val newTags =
      if (tagsUpd.isEmpty) col("tags")
      else
        tagMerge(
          col("tags"),
          map(tagsUpd.flatMap { case (k, v) => Seq(lit(k), v.cast("string")) }: _*))
    val newName = name
    ss.copy(df =
      ss.df.select(
        col("sid"),
        col("ord"),
        newName.as("name"),
        newTags.as("tags"),
        (if (setPathExpr) capPath(newName) else col("pathExpr")).as("pathExpr"),
        consol.as("consol"),
        xff.as("xff"),
        col("step"),
        col("t"),
        coalesce(value, lit(Double.NaN)).as("value")))
  }

  /** wrap the display name: `fn(name)` / `fn(name,suffix)` */
  def wrapName(fn: String, extra: Column*): Column =
    concat(
      (lit(fn + "(") +: col("name") +: extra.flatMap(e => Seq(lit(","), e))) :+ lit(")"): _*)

  /** per-series whole-range statistic of `fn` joined back as `_stat` */
  def withSeriesStat(df: DataFrame, fn: String): DataFrame = {
    val aggs = helperAggsFor(Some(normalizeAggrName(fn)), col("value"), col("t"))
    val stats = df
      .groupBy(col("sid"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("sid"), aggValueCol(normalizeAggrName(fn)).as("_stat"))
    // stats is series-meta scale (one row per sid): broadcast so the
    // data-scale side isn't shuffled+sorted for the join
    df.join(broadcast(stats), Seq("sid"), "left")
  }

  /** filter a set by a per-series statistic predicate
    * (transform.go filterSeriesGeneric)
    */
  def filterByStat(ss: SeriesSet, fn: String, op: String, threshold: Double): SeriesSet = {
    val statC = coalesce(col("_stat"), lit(Double.NaN))
    val pred = op match {
      case "=" => statC === threshold
      case "!=" => statC =!= threshold
      case ">" => statC > threshold
      case ">=" => statC >= threshold
      case "<" => statC < threshold
      case "<=" => statC <= threshold
      case other => throw GraphiteError(s"unknown operator '$other'")
    }
    ss.copy(df = withSeriesStat(ss.df, fn).filter(pred).drop("_stat"))
  }

  /** Reassign presentation order by the prepared `_k` sort-key column
    * (ascending or descending, sid tie-break); consumes `_k`.
    */
  def reorder(df: DataFrame, descending: Boolean): DataFrame = {
    val w = Window.orderBy( // series-meta scale: one row per series, bounded by maxSeries
      if (descending) col("_k").desc_nulls_last else col("_k").asc_nulls_last,
      col("sid").asc)
    val ranked = df
      .select(col("sid"), col("_k"))
      .distinct()
      .withColumn("_newOrd", row_number().over(w).cast("long"))
      .select(col("sid"), col("_newOrd"))
    // ranked is series-meta scale: broadcast join, no data-side shuffle
    df.join(broadcast(ranked), Seq("sid"), "left")
      .withColumn("ord", col("_newOrd"))
      .drop("_newOrd", "_k")
  }

  // ---- name-path UDFs (graphiteql parsing is not expressible as a
  // native column op; these run once per row on series-bounded data) --

  val pathOfNameUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((name: String) => pathFromName(name))

  /** getNameFromNodes(name, tags, nodes) as a UDF closure per nodes list
    * (transform.go:3684)
    */
  def nameFromNodesUdf(nodes: Seq[Expr]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val specs: Seq[Either[Int, String]] = nodes.map {
      case NumberExpr(n) => Left(n.toInt)
      case StringExpr(s) => Right(s)
      case other => throw GraphiteError(s"bad node ${other.render}")
    }
    udf { (name: String, tags: Map[String, String]) =>
      if (specs.isEmpty) ""
      else {
        val parts = pathFromName(name).split("\\.", -1)
        specs.flatMap {
          case Left(i0) =>
            val i = if (i0 < 0) parts.length + i0 else i0
            if (i >= 0 && i < parts.length) Some(parts(i)) else None
          case Right(tag) =>
            tags.get(tag).filter(_.nonEmpty)
        }.mkString(".")
      }
    }
  }

  /** natural sort key: digit runs compare numerically
    * (natural_compare.go naturalLess) — zero-pad digit runs so plain
    * string ordering reproduces the comparator
    */
  val naturalKeyUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (name: String) =>
      val sb = new StringBuilder
      var i = 0
      while (i < name.length) {
        if (name(i).isDigit) {
          val j = {
            var k = i; while (k < name.length && name(k).isDigit) k += 1; k
          }
          val numStr = name.substring(i, j)
          sb.append("0" * math.max(0, 24 - numStr.length)).append(numStr)
          i = j
        } else {
          sb.append(name(i)); i += 1
        }
      }
      sb.toString
    }
}
