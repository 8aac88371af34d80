package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Merge
import graft.pipeline.{Materialization, Model, Runner}
import graft.sources.{Mor, Snapshots}
import graft.streaming.SnapshotSink

/** The write path with reads beside it.
  *
  * A Debezium changelog lands one JSON file per ingest step. The file is
  * picked up by a running `SnapshotSink.ingest` stream into a bronze
  * table; the step then reduces the batch to one row per key and
  * applies it to a copy-on-write silver table (`Snapshots.mergeWith` +
  * `Merge.cdcApply`) and a merge-on-read silver table (`Mor.upsert`).
  * Between ingests a pass runs latest reads of both tables, point reads,
  * a time-travel read, maintenance and an incremental dbt-style daily
  * mart (`pipeline.Runner`). Every read is checked against the
  * latest-wins model `refs.py` computes from the same files.
  */
final class Cdc extends Workload {
  private val Cols = Seq("id", "seq", "ts_ms", "name", "amount", "dt")
  private val Keep = 8 // CoW versions kept by maintenance; travel goes 3 back
  private val schema = StructType(Seq(
    StructField("op", StringType), StructField("id", LongType),
    StructField("seq", LongType), StructField("ts_ms", LongType),
    StructField("name", StringType), StructField("amount", LongType),
    StructField("dt", StringType)))

  private var states: IndexedSeq[Fp] = _
  private var marts: IndexedSeq[Fp] = _
  private var pointStates: IndexedSeq[Fp] = _
  private var pointKeys: Seq[Long] = _
  private var batchFiles: IndexedSeq[Path] = _
  private var batchEvents = 0L

  // per set-up state
  private var dirs: Map[String, String] = _
  private var query: StreamingQuery = _
  private var runner: Runner = _
  private var applied = 0 // batches applied so far = index into `states`
  private var cowVersionAt = Map.empty[Int, Long]
  private var landedBytes = 0L
  private var storeBytes0 = 0L
  private var modelsRun = 0

  private def dir(ctx: Ctx, name: String) = ctx.work.resolve(name).toString

  def stage(ctx: Ctx): Unit = {
    if (states == null) loadRefs(ctx)
    val spark = ctx.spark
    dirs = Seq("landing", "bronze", "cow", "mor", "warehouse", "ckpt")
      .map(n => n -> dir(ctx, n)).toMap
    Files.createDirectories(ctx.work.resolve("landing"))
    spark.conf.set("spark.sql.streaming.checkpointLocation", dirs("ckpt"))
    val snap = spark.read.parquet(ctx.inputs.resolve("snapshot.parquet").toString)
      .select(Cols.map(col): _*)
    Snapshots.commit(snap.withColumn("deleted", lit(false)), dirs("cow"))
    Mor.append(snap, dirs("mor"))
    cowVersionAt = Map(0 -> Snapshots.versions(dirs("cow")).last)
    applied = 0
    landedBytes = 0L
    runner = new Runner(spark, dirs("warehouse"))
    runner.run(Seq(martModel), sources = Map("silver" -> Snapshots.read(spark, dirs("cow"))))
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .json(dirs("landing"))
    query = SnapshotSink.ingest(stream, dirs("bronze"), filesPerBatch = 1, retainVersions = 2)
  }

  def warmup(ctx: Ctx): Unit = {
    val st = ingest(ctx)
    st.run()()
    ()
  }

  def reset(ctx: Ctx): Unit = {
    query.stop()
    deleteTree(ctx.work)
  }

  override def finish(ctx: Ctx): Map[String, Double] = {
    query.stop()
    val spark = ctx.spark
    val store = Seq("bronze", "cow", "mor").map(dirs)
    val plain = dir(ctx, "plain")
    spark.read.parquet(s"${dirs("cow")}/v=${Snapshots.versions(dirs("cow")).last}")
      .filter(!col("deleted")).drop("deleted").coalesce(1).write.parquet(plain)
    val end = store.map(treeBytes).sum
    Map(
      "space_amp" -> end.toDouble / treeBytes(plain),
      "write_amp" -> (end - storeBytes0).toDouble / math.max(1L, landedBytes),
      "versions" -> (Snapshots.versions(dirs("cow")).size + Mor.commits(dirs("mor")).size).toDouble,
      "files_live" -> store.map(d => files(d).count(_.toString.endsWith(".parquet"))).sum.toDouble,
      "models" -> modelsRun.toDouble)
  }

  override def startWindow(ctx: Ctx): Unit = {
    storeBytes0 = Seq("bronze", "cow", "mor").map(d => treeBytes(dirs(d))).sum
    landedBytes = 0L
    modelsRun = 0
  }

  def pass(ctx: Ctx): Seq[Step] =
    Seq(ingest(ctx), readLatest(ctx, mor = false), ingest(ctx), readLatest(ctx, mor = true),
      pointReads(ctx), ingest(ctx), travel(ctx), maintain(ctx), pipeline(ctx))

  // ---------------------------------------------------------------- steps

  /** Land the next changelog file and apply it to both silver tables. */
  private def ingest(ctx: Ctx): Step = {
    val t = ctx.tracer
    val spark = ctx.spark
    Step("ingest",batchEvents, () => {
      val b = applied
      require(b < batchFiles.size, "changelog exhausted")
      val src = batchFiles(b)
      val tmp = ctx.work.resolve("landing").resolve(s".${src.getFileName}")
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, ctx.work.resolve("landing").resolve(src.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
      landedBytes += Files.size(src)
      val tags0 = Snapshots.committedTags(dirs("bronze")).size
      val mor0 = Mor.commits(dirs("mor")).size
      t.span("streaming", "ingest")(query.processAllAvailable())
      val batch = t.span("sources", "bronze_read")(Snapshots.read(spark, dirs("bronze")))
      val reduced = batch.groupBy("id")
        .agg(max_by(struct((Cols.tail :+ "op").map(col): _*), col("seq")).as("r"))
        .select(col("id") +: Cols.tail.map(c => col(s"r.$c").as(c)) :+
          (col("r.op") === "d").as("deleted"): _*)
        .persist()
      try {
        val v = t.span("sources", "cow_merge") {
          Snapshots.mergeWith(spark, dirs("cow"), reduced)(
            Merge.cdcApply(_, _, Seq("id"), Seq("seq"), "deleted"))
        }
        t.span("sources", "mor_upsert")(Mor.upsert(dirs("mor"), reduced, Seq("id"), "deleted"))
        applied = b + 1
        cowVersionAt += applied -> v
      } finally { reduced.unpersist(); () }
      () => {
        val tags = Snapshots.committedTags(dirs("bronze")).size
        val mor = Mor.commits(dirs("mor")).size
        if (tags != tags0 + 1) Some(s"bronze commits $tags0 -> $tags")
        else if (mor != mor0 + 2) Some(s"MoR commits $mor0 -> $mor")
        else None
      }
    })
  }

  private def readLatest(ctx: Ctx, mor: Boolean): Step = {
    val name = if (mor) "read_mor" else "read_cow"
    Step(name,0L, () => {
      val rows = ctx.tracer.span("sources", "read")(live(ctx, mor, version = -1L).collect())
      val at = applied
      () => same(rows, states(at), s"$name at batch $at")
    })
  }

  private def pointReads(ctx: Ctx): Step = Step("point_reads",0L, () => {
    val keys = pointKeys.map(lit(_))
    val (cow, mor) = ctx.tracer.span("sources", "read") {
      (live(ctx, mor = false, -1L).filter(col("id").isin(keys: _*)).collect(),
        live(ctx, mor = true, -1L).filter(col("id").isin(keys: _*)).collect())
    }
    val at = applied
    () => same(cow, pointStates(at), s"CoW point reads at batch $at")
      .orElse(same(mor, pointStates(at), s"MoR point reads at batch $at"))
  })

  private def travel(ctx: Ctx): Step = Step("travel",0L, () => {
    val back = math.max(0, applied - 3)
    val rows = ctx.tracer.span("sources", "travel") {
      live(ctx, mor = false, version = cowVersionAt(back)).collect()
    }
    () => same(rows, states(back), s"CoW travel to batch $back")
  })

  private def maintain(ctx: Ctx): Step = Step("maintain",0L, () => {
    ctx.tracer.span("sources", "maint") {
      Snapshots.expireSnapshots(dirs("cow"), Keep)
      Mor.compact(ctx.spark, dirs("mor"))
    }
    () => {
      val vs = Snapshots.versions(dirs("cow")).size
      if (vs > Keep) Some(s"$vs CoW versions after expiring to $Keep") else None
    }
  })

  private def pipeline(ctx: Ctx): Step = Step("pipeline",0L, () => {
    val spark = ctx.spark
    modelsRun += ctx.tracer.span("pipeline", "run") {
      runner.run(Seq(martModel), sources = Map("silver" -> Snapshots.read(spark, dirs("cow"))))
    }.size
    val rows = ctx.tracer.span("sources", "read")(runner.readModel("daily").collect())
    val at = applied
    () => {
      val fp = fingerprint(rows.map(r => s"${r.getAs[String]("dt")}|${r.getAs[Long]("n")}|" +
        s"${r.getAs[Long]("total")}|${r.getAs[Long]("max_seq")}"))
      if (fp == marts(at)) None else Some(s"daily mart at batch $at: $fp vs ${marts(at)}")
    }
  })

  /** Daily live-row count and amount per creation day, merged on `dt`.
    * Incremental runs rebuild only the days that have rows newer than
    * the mart's high-water mark (`max_seq`, which counts tombstones).
    */
  private def martModel: Model = Model("daily", Seq("silver"), Materialization.Incremental(Seq("dt")),
    (in, current) => {
      val silver = in("silver")
      val touched = current match {
        case None => silver
        case Some(cur) =>
          val days = silver.crossJoin(cur.agg(max("max_seq").as("hwm")))
            .filter(col("seq") > col("hwm")).select("dt").distinct()
          silver.join(days, "dt")
      }
      touched.groupBy("dt").agg(
        sum(when(!col("deleted"), 1L).otherwise(0L)).as("n"),
        sum(when(!col("deleted"), col("amount")).otherwise(0L)).as("total"),
        max("seq").as("max_seq"))
    })

  // -------------------------------------------------------------- helpers

  private def live(ctx: Ctx, mor: Boolean, version: Long): DataFrame =
    if (mor) Mor.read(ctx.spark, dirs("mor"), version).select(Cols.map(col): _*)
    else Snapshots.read(ctx.spark, dirs("cow"), version).filter(!col("deleted"))
      .select(Cols.map(col): _*)

  private def same(rows: Array[Row], want: Fp, what: String): Option[String] = {
    val fp = fingerprint(rows.map(r =>
      s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(3)}|${r.getLong(4)}|${r.getString(5)}"))
    if (fp == want) None else Some(s"$what: $fp vs $want")
  }

  /** Row-order-free fingerprint: count and the 64-bit sum of the first
    * eight bytes (little-endian) of each rendered row's MD5, as `refs.py`
    * computes it.
    */
  private def fingerprint(rendered: Seq[String]): Fp = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = rendered.foldLeft(0L) { (acc, s) =>
      val d = md.digest(s.getBytes("UTF-8"))
      acc + java.nio.ByteBuffer.wrap(d, 0, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    }
    Fp(rendered.size.toLong, java.lang.Long.toUnsignedString(h))
  }

  private def loadRefs(ctx: Ctx): Unit = {
    val root = new ObjectMapper().readTree(ctx.refs.resolve("cdc.json").toFile)
    def fps(key: String) = root.get(key).elements().asScala
      .map(e => Fp(e.get(0).longValue, e.get(1).asText)).toIndexedSeq
    states = fps("states")
    marts = fps("marts")
    pointStates = fps("points")
    batchEvents = root.get("batch_events").longValue
    pointKeys = root.get("point_keys").elements().asScala.map(_.longValue).toSeq
    val bdir = ctx.inputs.resolve("batches")
    batchFiles = Files.list(bdir).iterator().asScala.toIndexedSeq.sortBy(_.getFileName.toString)
  }

  private def files(d: String): Seq[Path] = {
    val p = java.nio.file.Paths.get(d)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  private def treeBytes(d: String): Long = files(d).map(Files.size).sum

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

/** Row count and row-order-free hash of a set of rows. */
final case class Fp(n: Long, h: String)
