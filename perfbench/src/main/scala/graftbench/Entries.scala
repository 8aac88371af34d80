package graftbench

import org.apache.spark.sql.DataFrame

/** A workload made of registered `SparkEntry.queries` entries, each one
  * step: build the entry's DataFrame, force its physical plan, collect.
  * The collected rows are checked against the entry's DuckDB oracle
  * result over the same files (computed by `refs.py`). Steps run in
  * the listed order.
  */
final class Entries(kind: String) extends Workload {
  private val names = Entries.names(kind)
  private lazy val refs = scala.collection.mutable.Map.empty[String, Check.Table]
  private val fns = graft.SparkEntry.queries

  private def ref(ctx: Ctx, name: String): Check.Table =
    refs.getOrElseUpdate(name, Check.readRef(ctx.refs.resolve(s"$name.json")))

  def stage(ctx: Ctx): Unit = names.foreach(ref(ctx, _))

  def warmup(ctx: Ctx): Unit = {
    val name = if (kind == "marts") "q01_pricing_summary" else "t04_fingerprint"
    fns(name)(ctx.spark, ctx.inputs.toString).collect()
    ctx.spark.catalog.clearCache()
  }

  def reset(ctx: Ctx): Unit = ()

  def pass(ctx: Ctx): Seq[Step] = {
    // the generated `documents` size, passed down by run.py
    val docs = sys.props.getOrElse("graftbench.docs", "0").toLong
    names.zipWithIndex.map { case (name, i) =>
      // corpus: a pass carries every document through the whole chain once
      val items = if (kind != "corpus") 1L else if (i == names.size - 1) docs else 0L
      Step(name, items, () => {
        val rows = run(ctx, name)
        () => {
          ctx.spark.catalog.clearCache()
          Check.compare(rows, ref(ctx, name))
        }
      })
    }
  }

  private def run(ctx: Ctx, name: String): Check.Table = {
    val t = ctx.tracer
    val layer = Entries.layer(name)
    def plan(df: DataFrame) = t.span("catalyst", "plan")(df.queryExecution.executedPlan)
    val (cols, rows) =
      if (layer == "queries") {
        val df = t.span("queries", "build")(fns(name)(ctx.spark, ctx.inputs.toString))
        plan(df)
        (df.columns.toSeq, t.span("queries", "exec")(df.collect()))
      } else t.span("operators", layer) {
        val df = fns(name)(ctx.spark, ctx.inputs.toString)
        plan(df)
        (df.columns.toSeq, df.collect())
      }
    Check.fromRows(cols, rows)
  }
}

object Entries {
  /** `marts`: dbt staging and mart models, star joins and window suites
    * from `queries.Relational`, `queries.TpchSuite` and `queries.Advanced`,
    * then one entry each of `operators.Dedup`, `operators.Similarity` and
    * `operators.TextAnalysis` over a small corpus, so the operators layer
    * is measured too.
    */
  val marts: Seq[String] = Seq(
    "q02_stg_orders", "q48_stg_users_cleanse", "q03_daily_order_metrics",
    "q05_revenue_by_nation", "q07_running_window", "q26_order_priority",
    "q43_scalable_rank", "d01_dedup_exact", "s01_cosine_topk", "t01_token_stats")

  /** `corpus`: the LLM-data chain from `operators.Dedup`,
    * `operators.Similarity` and `operators.TextAnalysis`.
    */
  val corpus: Seq[String] = Seq(
    "d01_dedup_exact", "d11_dup_spans", "d16_dedup_weights",
    "d06_dup_clusters", "s01_cosine_topk", "t01_token_stats")

  def names(kind: String): Seq[String] = kind match {
    case "marts" => marts
    case "corpus" => corpus
  }

  def layer(name: String): String = name.head match {
    case 'd' => "dedup"
    case 's' => "similarity"
    case 't' => "text"
    case _ => "queries"
  }
}
