package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.jobs.IndexJob
import graft.ops.{KnnJoin, PipJoin, Tiling}
import graft.pages.{Ladder, Pages}
import graft.table.Icelite

/** Row counts and other facts the input generator wrote next to the inputs. */
object Counts {
  def load(p: Path): Map[String, Long] = {
    val props = new Properties()
    val in = Files.newInputStream(p)
    try props.load(in) finally in.close()
    props.asScala.map { case (k, v) => k -> v.trim.toLong }.toMap
  }
}

object Tiles {
  def withRings(spark: SparkSession): DataFrame =
    Pages.tiles(spark).withColumn("ring",
      PipJoin.rectRing(col("x0"), col("y0"), col("x1"), col("y1")))
  /** 24 x 12 grid minus every 37th, plus the two overlapping hot tiles. */
  val Count: Long = 288 - 8 + 2
}

/** `shelve`: the paper's spatial operators (geocoding, the exactly-one PIP
  * shelve, tiling statistics, the SQL `graft_st_contains` join, kNN) over
  * one seeded multi-file page table. Each writes its result as parquet,
  * which the checks read. */
final class ShelveWorkload(inputs: Path, work: Path, trace: Boolean) extends Workload {
  private val counts = Counts.load(inputs.resolve("counts.properties"))
  private val nPages = counts("pages")
  private val nQueries = counts("queries")
  private var docs, queryIds: DataFrame = _
  private var shelveObs: Option[Observation] = None
  val outDir: Path = work.resolve("out")

  def open(spark: SparkSession): Unit = {
    docs = spark.read.parquet(inputs.resolve("docs").toString)
    queryIds = spark.read.parquet(inputs.resolve("queries.parquet").toString)
  }

  override def beforePass(spark: SparkSession, pass: Int): Unit = Main.deleteRecursively(outDir)

  private def pages = Pages.pagesFromDocuments(docs)
  private def tiles = Tiles.withRings(docs.sparkSession)

  private def shelved(): DataFrame = {
    val obs = Observation("shelve")
    shelveObs = Some(obs)
    PipJoin.shelve(pages, tiles, "doc_id", "lon", "lat", "tile_name", "ring",
      observer = Some(obs)).select(col("doc_id"), col("tile_name"))
  }

  private def containsSql(spark: SparkSession): DataFrame = {
    pages.createOrReplaceTempView("pages")
    tiles.createOrReplaceTempView("tiles")
    spark.sql("""SELECT p.doc_id, t.tile_name FROM pages p LEFT JOIN tiles t
                |ON graft_st_contains(t.ring, p.lon, p.lat)""".stripMargin)
  }

  def ops(spark: SparkSession, pass: Int): Seq[Op] = {
    val withTiles = nPages + Tiles.Count
    Seq[(String, Long, () => DataFrame)](
      ("geocode", nPages, () => pages.select(col("doc_id"), col("lon"), col("lat"),
        org.apache.spark.sql.graft.CellExpressions.cell_at(col("lon"), col("lat"), 12).as("cell"),
        graft.cells.Cells.geocellCol(col("lon"), col("lat")).as("geocell"))),
      ("shelve", withTiles, () => shelved()),
      ("coverage", nPages, () => Tiling.coverageStats(pages)),
      ("sql_contains", withTiles, () => containsSql(spark)),
      ("knn", nPages + nQueries, () => KnnJoin.knnAuto(spark,
        pages.join(broadcast(queryIds), "doc_id"), pages, "doc_id", "doc_id", k = 5))
    ).map { case (name, rows, build) =>
      Op(name, rows, build, df => df.write.mode("overwrite").parquet(outDir.resolve(name).toString))
    }
  }

  /** The shelve's skip counts, for the traced run and the checks. */
  override def afterOp(spark: SparkSession, op: Op): Unit =
    if (op.name == "shelve") shelveObs.foreach { obs =>
      val m = obs.get
      if (trace) {
        Layer.add("pip.skip_nomatch", m("skip_nomatch").toString.toDouble)
        Layer.add("pip.skip_multi", m("skip_multi").toString.toDouble)
      }
      Files.writeString(outDir.resolve(s"${op.name}_skips.json"),
        s"""{"skip_nomatch":${m("skip_nomatch")},"skip_multi":${m("skip_multi")},""" +
          s""""n_shelved":${m("n_shelved")}}""")
    }
}

/** `ingest`: the spark-submit job chain over arriving batches, each pass
  * from empty tables. */
final class IngestWorkload(inputs: Path, work: Path, trace: Boolean) extends Workload {
  private val counts = Counts.load(inputs.resolve("counts.properties"))
  private val nBatches = counts("batches").toInt
  private val batchDirs = (0 until nBatches).map(b => inputs.resolve(f"batch-$b%02d"))
  private val tables = work.resolve("tables")
  private def t(name: String) = tables.resolve(name).toString
  private var docSchema: org.apache.spark.sql.types.StructType = _
  private var walked = Map.empty[String, Long]

  def open(spark: SparkSession): Unit = {
    docSchema = spark.read.parquet(batchDirs.head.resolve("documents.parquet").toString).schema
    batchDirs.foreach { d =>
      require(Files.exists(d.resolve("documents.parquet")) && Files.exists(d.resolve("orders.parquet")),
        s"missing batch files in $d")
    }
  }
  val outDir: Path = work.resolve("check")

  override def beforePass(spark: SparkSession, pass: Int): Unit = {
    Main.deleteRecursively(tables)
    Files.createDirectories(tables.resolve("stream_in"))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    walked = Map.empty
  }

  /** Zone-map-pruned range reads per batch: readers beside the writes. */
  private val Probes = counts("probes_per_batch").toInt

  private val MergedTables = Seq("dedup_sigs", "dedup_pairs", "stac_asset_info", "orders", "stream_counts")

  private def docsOf(b: Int): DataFrame =
    SparkSession.active.read.schema(docSchema)
      .parquet(batchDirs(b).resolve("documents.parquet").toString)

  /** A batch's orders, re-sent keys carrying new values: the upsert whose
    * last writer must win. */
  private def ordersOf(b: Int): DataFrame =
    SparkSession.active.read.parquet(batchDirs(b).resolve("orders.parquet").toString)

  def ops(spark: SparkSession, pass: Int): Seq[Op] = (0 until nBatches).flatMap { b =>
    val dir = batchDirs(b).toString
    val nDocs = counts(s"docs.$b")
    Seq(
      Op("index", nDocs, () => null, { _ =>
        val (rows, diff) = IndexJob.run(spark, dir, t("index_job"))
        require(diff == 0 && rows == nDocs, s"index job: rows=$rows diff=$diff, want $nDocs / 0")
      }),
      Op("dedup", nDocs, () => null, { _ =>
        val pairs = graft.text.TextOps.incrementalDedup(spark, docsOf(b), t("dedup_sigs"))
        try {
          Icelite.merge(spark, pairs, t("dedup_pairs"), Seq("doc_a", "doc_b"), s"dedup:$b")
          if (trace) Layer.add("text.dedup_pairs", pairs.count().toDouble)
        } finally graft.Session.freeLocalCheckpoint(pairs)
      }),
      Op("stacmeta", counts(s"orders.$b"), () => Ladder.assetInfo(spark, dir), df =>
        Icelite.merge(spark, df, t("stac_asset_info"),
          Seq("collection", "item_id", "asset_key"), s"stacmeta:$b")),
      Op("orders", counts(s"orders.$b"), () => ordersOf(b), df =>
        Icelite.merge(spark, df, t("orders"), Seq("o_orderkey"), s"orders:$b")),
      Op("stream", nDocs + Tiles.Count, () => null, { _ =>
        Files.copy(batchDirs(b).resolve("documents.parquet"),
          tables.resolve("stream_in").resolve(f"part-$b%02d.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        val src = spark.readStream.schema(docSchema).option("maxFilesPerTrigger", "1")
          .parquet(tables.resolve("stream_in").toString)
        val q = graft.streaming.EventStream.runShelveCountsToIcelite(spark,
          Pages.pagesFromDocuments(src), Tiles.withRings(spark), t("stream_counts"),
          t("stream_checkpoint"), Trigger.AvailableNow(), watermark = "87600 hours")
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }),
      Op("compact", counts(s"stac_rows.$b"), () => null, { _ =>
        Icelite.compact(spark, t("stac_asset_info"))
        MergedTables.foreach(n => if (Icelite.currentSnapshotId(t(n)).nonEmpty)
          Icelite.expireSnapshots(t(n)))
      })) ++ (0 until Probes).map { i =>
      val lo = counts(s"probe_lo.$b.$i")
      val hi = counts(s"probe_hi.$b.$i")
      Op("probe", nDocs, () => Icelite.readWhere(spark, t("index_job/index"), "doc_id", lo, hi),
        { df =>
          df.agg(count(lit(1))).collect()
          if (trace) Layer.add("icelite.files_opened_per_probe", df.inputFiles.length.toDouble / Probes)
        })
    }
  }

  /** Parquet files under the tables (path -> bytes). */
  private def parquetFiles(): Map[String, Long] =
    if (!Files.exists(tables)) Map.empty
    else {
      val w = Files.walk(tables)
      try w.iterator().asScala.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(p => p.toString -> Files.size(p)).toMap
      finally w.close()
    }

  private def liveBytes(): Long = {
    val w = Files.walk(tables)
    val dirs = try w.iterator().asScala.filter(p => Files.isDirectory(p)).toList finally w.close()
    dirs.flatMap { d =>
      Icelite.currentSnapshotId(d.toString).toSeq.flatMap { id =>
        Icelite.readManifest(d.toString, id).filePaths.map { p =>
          val f = java.nio.file.Paths.get(p)
          if (Files.exists(f)) Files.size(f) else 0L
        }
      }
    }.sum
  }

  override def afterOp(spark: SparkSession, op: Op): Unit = if (trace) {
    val now = parquetFiles()
    val fresh = now.keySet -- walked.keySet
    Layer.add("icelite.files_written", fresh.size.toDouble)
    Layer.add("icelite.bytes_written_mb", fresh.toSeq.map(now).sum / 1048576.0)
    walked = now
  }

  override def afterPass(spark: SparkSession, pass: Int): Unit = if (trace) {
    val live = liveBytes().toDouble.max(1.0)
    val written = Layer.perPass("icelite.bytes_written_mb", Seq(pass)).head * 1048576.0
    Layer.add("icelite.write_amp", written / live)
    Layer.add("icelite.space_amp", parquetFiles().values.sum / live)
  }

  /** The merged tables as the pass left them, then the last batch merged
    * once more (an upsert must leave the content unchanged). */
  override def checkDump(spark: SparkSession): Unit = {
    Main.deleteRecursively(outDir)
    def dump(table: String, name: String): Unit =
      Icelite.read(spark, t(table)).write.parquet(outDir.resolve(name).toString)
    Seq("stac_asset_info", "orders", "dedup_pairs", "stream_counts").foreach(n => dump(n, n))
    val last = nBatches - 1
    Icelite.merge(spark, Ladder.assetInfo(spark, batchDirs(last).toString), t("stac_asset_info"),
      Seq("collection", "item_id", "asset_key"), s"stacmeta:$last:again")
    Icelite.merge(spark, ordersOf(last), t("orders"), Seq("o_orderkey"), s"orders:$last:again")
    dump("stac_asset_info", "stac_asset_info_remerge")
    dump("orders", "orders_remerge")
  }
}

/** `catalog`: the suite's queries on the read-only fixture in one session,
  * in an order the seed sets. */
final class CatalogWorkload(inputs: Path, work: Path, seed: Long) extends Workload {
  private val dir = inputs.toString
  private val counts = Counts.load(inputs.resolve("counts.properties"))
  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  private val order = new scala.util.Random(seed).shuffle(graft.SparkEntry.queries.keys.toSeq.sorted)

  /** Rows of the fixture tables the query's oracle SQL names. */
  private def rowsOf(q: String): Long = {
    val sql = graft.SparkEntry.oracleSql(q)
    Tables.filter(tb => s"\\b$tb\\b".r.findFirstIn(sql).isDefined).map(tb => counts(tb)).sum
  }
  private val rows = order.map(q => q -> rowsOf(q)).toMap

  val outDir: Path = work.resolve("out")
  override def beforePass(spark: SparkSession, pass: Int): Unit = Main.deleteRecursively(outDir)

  def open(spark: SparkSession): Unit =
    Tables.foreach(tb => spark.read.parquet(s"$dir/$tb.parquet").schema)

  def ops(spark: SparkSession, pass: Int): Seq[Op] = order.map { q =>
    Op(q, rows(q), () => graft.SparkEntry.queries(q)(spark, dir),
      df => df.write.mode("overwrite").parquet(outDir.resolve(q).toString))
  }

  override def checkDump(spark: SparkSession): Unit =
    Files.writeString(outDir.resolve("oracle_sql.json"), order.map(q =>
      s"${Json.quote(q)}:${Json.quote(graft.SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}"))
}
