package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.catalog.GraftCatalog
import graft.ingest.{Checkpoint, IncrementalFileSource}
import graft.pipeline.{BronzeToSilver, RawToBronze}
import graft.table.GraftTable

object Workloads {
  val Names: Seq[String] = Seq("medallion", "corpus_dedup")

  /** `dataDir` holds the benchmark's source documents */
  def apply(name: String, ctx: Ctx, dataDir: String): Workload = name match {
    case "medallion" => new Medallion(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx, s"$dataDir/documents.parquet")
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  val SilverSchema: StructType =
    new BronzeToSilver(null, "bronze", "silver", "checkpoint").silverSchema

  /** `n` prebuilt silver rows (ids 1..n, version 0), generated on the
    * executors and laid out one file per destinationstate partition. */
  def silverFrame(spark: SparkSession, n: Int, parts: Int): DataFrame = {
    val rdd = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      (p.toLong + 1 to n.toLong by parts.toLong).iterator.map(id => Orders.silverRow(id, 0))
    }
    spark.createDataFrame(rdd, SilverSchema).repartition(col("destinationstate"))
  }

  def rowsFrame(spark: SparkSession, rows: Seq[Row], schema: StructType,
      parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  /** user bytes of the prebuilt rows (their TSV encoding) */
  def prebuiltBytes(spark: SparkSession, n: Int, parts: Int): Long =
    spark.sparkContext.parallelize(1L to n.toLong, parts)
      .map(id => Orders.userBytes('I', id, 0)).reduce(_ + _)

  /** Table-log figures for the traced ops: commits and files per op from
    * the snapshot log (attributed by commit time), rewritten bytes, and
    * live data / delete files after the op. */
  def tableLayer(tables: Seq[GraftTable], traced: Seq[OpRec],
      batchBytes: Long): Map[String, Double] = {
    var commits, added, removed, removedBytes, live, liveDel = 0.0
    var ops = 0
    traced.foreach { o =>
      ops += 1
      tables.filter(_.exists).foreach { t =>
        val snaps = t.snapshots.filter(s =>
          s.timestampMs >= o.startMs && s.timestampMs <= o.endMs)
        commits += snaps.size
        snaps.foreach { s =>
          added += t.addedFilesOf(s).size
          val rm = t.removedFilesOf(s)
          removed += rm.size
          if (rm.nonEmpty)
            removedBytes += t.bytesFor(rm, s.parentId).values.sum.toDouble
        }
        snaps.lastOption.foreach { s =>
          live += t.liveFiles(Some(s.snapshotId)).size
          liveDel += t.liveDeletes(Some(s.snapshotId)).size
        }
      }
    }
    val n = math.max(ops, 1).toDouble
    Map("table.commits" -> commits / n, "table.files_added" -> added / n,
      "table.files_removed" -> removed / n,
      "table.rewrite_ratio" -> (if (batchBytes > 0) removedBytes / batchBytes else 0.0),
      "table.live_files" -> live / n, "table.live_delete_files" -> liveDel / n)
  }
}

/** The paper's system end to end: CDC cycles raw TSV → bronze → silver
  * through the shipped pipeline classes, each published to SQL readers
  * (catalog refresh) and to outside engines (Iceberg metadata export),
  * then a fixed mix of consumer reads checked against the model, and one
  * Iceberg scan at the end of the timed phase.
  *
  * Each cycle lands two TSV files of 20k rows: ~80% `U` and ~5% `D` on
  * Zipf-skewed keys of a 500k-row silver table prebuilt over 50
  * `destinationstate` partitions, the rest new keys. */
final class Medallion(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  private val Prebuilt = 500000
  private val FilesPerCycle = 2
  private val RowsPerCycle = 40000
  private val PUpdate = 0.80
  private val PDelete = 0.05

  private var dir = ""
  private var model: SilverModel = _
  private var gen: CdcGen = _
  private var rng: java.util.Random = _
  private var toBronze: RawToBronze = _
  private var toSilver: BronzeToSilver = _
  private var cat: GraftCatalog = _
  private var fileSeq = 0
  private var ingested = 0L
  private var prebuiltBytes = -1L
  private val discover = ArrayBuffer.empty[(Double, Int, Int)]
  /** silver snapshot id → (count, quantity sum) of the state it holds */
  private val versions = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private var tip = -1L
  /** bronze snapshot ids with the rows each cycle appended */
  private val bronzeSnaps = ArrayBuffer.empty[(Long, Long)]

  private def rawDir = s"$dir/raw"
  private def bronzeDir = s"$dir/wh/bronze_orders"
  private def silverDir = s"$dir/wh/silver"
  private def ingestCkpt = s"$dir/ckpt/raw-bronze.json"

  def warmupRounds: Int = 1
  def tableDirs: Seq[String] = Seq(bronzeDir, silverDir)
  def userBytesIngested: Long = {
    if (prebuiltBytes < 0)
      prebuiltBytes = Workloads.prebuiltBytes(spark, Prebuilt, ctx.nproc)
    prebuiltBytes + ingested
  }

  def prebuild(d: String): Unit = {
    dir = d
    Files.createDirectories(Paths.get(rawDir))
    model = new SilverModel(Prebuilt * 2)
    gen = new CdcGen(ctx.seed, Prebuilt, 0.9)
    rng = new java.util.Random(ctx.seed * 31 + 7)
    fileSeq = 0; ingested = 0L
    versions.clear(); bronzeSnaps.clear()
    val silver = GraftTable(spark, silverDir)
    silver.create(Workloads.SilverSchema, parts = Seq("destinationstate"))
    silver.append(Workloads.silverFrame(spark, Prebuilt, ctx.nproc),
      parts = Seq("destinationstate"))
    var id = 1L
    while (id <= Prebuilt) { model.upsert(id, 0); id += 1 }
    toBronze = new RawToBronze(spark, rawDir, bronzeDir, ingestCkpt)
    toSilver = new BronzeToSilver(spark, bronzeDir, silverDir,
      s"$dir/ckpt/bronze-silver.json", interpretDeletes = true)
    cat = new GraftCatalog(spark, s"$dir/wh")
    cat.register("silver")
    graft.iceberg.IcebergExport.export(spark, silver)
    tip = silver.latestSnapshotId.get
    versions(tip) = (model.count, model.sumQty)
  }

  def round(): Unit = {
    val changes = gen.batch(model, RowsPerCycle, PUpdate, PDelete)
    val bodies = gen.files(changes, FilesPerCycle)
    bodies.foreach { b =>
      fileSeq += 1
      Files.write(Paths.get(rawDir, f"orders-$fileSeq%06d.tsv"), b.getBytes(UTF_8))
    }
    val bytes = bodies.map(_.getBytes(UTF_8).length.toLong).sum
    ingested += bytes
    probeDiscovery()

    ctx.op("cycle", "pipeline.cycle", changes.size.toLong, bytes) {
      val b = tracer.span("pipeline.bronze_run")(toBronze.run())
      val s = tracer.span("pipeline.silver_run")(toSilver.run())
      // publish: the pipeline writes through the path API, so SQL readers'
      // cached relation is refreshed, and outside engines get new Iceberg
      // metadata
      tracer.span("catalog.refresh")(cat.refresh("silver"))
      tracer.span("iceberg.export")(
        graft.iceberg.IcebergExport.export(spark, GraftTable(spark, silverDir)))
      (b, s)
    } { case (b, s) =>
      changes.foreach(model.apply)
      recordSnapshots(changes.size.toLong)
      Checks.diff("bronze rows", b, changes.size.toLong) ++
        Checks.diff("silver count", s, model.count)
    }
    ctx.probe("catalog.resolve")(spark.table("silver").queryExecution.analyzed)
    readCount()
    // read-your-writes on the last updated key, then a random hit-or-miss
    // key
    (changes.reverseIterator.filter(_.op == 'U').take(1).map(_.id).toSeq :+
      (1L + rng.nextInt((model.maxId * 1.1).toInt))).foreach(readPoint)
    readPartition()
    readTimeTravel()
    readHistory()
    readBronzeRange()
  }

  /** the Iceberg scan plans one Spark job per partition, so it runs once
    * per run, after the rounds, rather than once per round */
  override def endReads(): Unit = readIceberg()

  private def recordSnapshots(rows: Long): Unit = {
    val silver = GraftTable(spark, silverDir)
    silver.snapshots.map(_.snapshotId).filter(_ > tip)
      .foreach(s => versions(s) = (model.count, model.sumQty))
    tip = silver.latestSnapshotId.get
    bronzeSnaps += ((GraftTable(spark, bronzeDir).latestSnapshotId.get, rows))
  }

  private def readCount(): Unit = ctx.op("read", "sql.count") {
    tracer.span("sql.count")(
      spark.sql("SELECT COUNT(*) FROM silver").collect()(0).getLong(0))
  }(n => Checks.diff("sql count", n, model.count))

  private def readPoint(id: Long): Unit = ctx.op("read", "sql.point") {
    tracer.span("sql.point")(Readback.point(spark, "silver", id))
  }(got => Checks.diff(s"point $id", got, Readback.expected(model, id)))

  private def readPartition(): Unit = {
    val s = rng.nextInt(Orders.States.length)
    ctx.op("read", "sql.partition_scan") {
      tracer.span("sql.partition_scan") {
        val r = spark.sql(
          s"""SELECT COUNT(*), COALESCE(SUM(quantity), 0) FROM silver
             |WHERE destinationstate = '${Orders.States(s)}'""".stripMargin)
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    }(got => Checks.diff(s"state ${Orders.States(s)}", got,
      (model.stateCount(s), model.stateQty(s))))
  }

  private def readTimeTravel(): Unit = {
    val ids = versions.keys.toIndexedSeq
    val v = ids(rng.nextInt(ids.size))
    ctx.op("read", "sql.time_travel") {
      tracer.span("sql.time_travel") {
        val r = spark.sql(
          s"SELECT COUNT(*), COALESCE(SUM(quantity), 0) FROM silver VERSION AS OF $v")
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    }(got => Checks.diff(s"version $v", got, versions(v)))
  }

  private def readHistory(): Unit = ctx.op("read", "table.history_top1") {
    tracer.span("table.history_top1") {
      cat.table("silver").history
        .orderBy(col("made_current_at").desc, col("snapshot_id").desc)
        .limit(1).collect()(0).getAs[Long]("snapshot_id")
    }
  }(s => Checks.diff("history top-1", s, tip))

  /** a random range of whole cycles from the bronze snapshot log */
  private def readBronzeRange(): Unit = {
    val a = rng.nextInt(bronzeSnaps.size)
    val b = a + 1 + rng.nextInt(bronzeSnaps.size - a)
    val from = if (a == 0) bronzeSnaps(0)._1 - 1 else bronzeSnaps(a - 1)._1
    val to = bronzeSnaps(b - 1)._1
    val want = bronzeSnaps.slice(a, b).map(_._2).sum
    ctx.op("read", "table.read_incremental") {
      tracer.span("table.read_incremental")(
        GraftTable(spark, bronzeDir).readIncremental(from, to).count())
    }(n => Checks.diff(s"bronze ($from, $to]", n, want))
  }

  private def readIceberg(): Unit = ctx.op("read", "iceberg.scan") {
    tracer.span("iceberg.scan")(
      graft.iceberg.IcebergExport.scan(spark, silverDir).count())
  }(n => Checks.diff("iceberg scan count", n, model.count))

  /** the listing RawToBronze is about to do, repeated alone (traced rounds
    * only, outside the op) */
  private def probeDiscovery(): Unit = if (ctx.traceThis) {
    val ck = new Checkpoint(spark, ingestCkpt)
    val wm = ck.load("last_processed_mtime").getOrElse(0L)
    val seen = ck.loadFiles("files_at_mtime")
    val t0 = System.nanoTime()
    ctx.probe("ingest.discover")(
      new IncrementalFileSource(spark, rawDir).newFiles(wm, seen)).foreach {
      case (files, _, _) =>
        val secs = (System.nanoTime() - t0) / 1e9
        val listed = Option(new java.io.File(rawDir).list()).map(_.length).getOrElse(0)
        discover += ((secs, listed, files.size))
    }
  }

  def finalChecks(): Unit = ctx.check("silver digest") {
    val got = Checks.silverDigest(GraftTable(spark, silverDir).read())
    Checks.diff("silver digest", got, Checks.modelDigest(model))
  }

  override def layerExtras(traced: Seq[OpRec]): Map[String, Double] = {
    val cycles = traced.filter(_.kind == "cycle")
    Workloads.tableLayer(Seq(GraftTable(spark, bronzeDir), GraftTable(spark, silverDir)),
      cycles, cycles.map(_.userBytes).sum) ++ Map(
      "ingest.discover_s" -> Stats.median(discover.map(_._1).toSeq),
      "ingest.files_listed" -> Stats.median(discover.map(_._2.toDouble).toSeq),
      "ingest.files_new" -> Stats.median(discover.map(_._3.toDouble).toSeq))
  }
}

/** Consumer point lookups through the catalog-bound name. */
object Readback {
  type Image = Option[(Long, String, Long, Int, Long)]

  def point(spark: SparkSession, table: String, id: Long): Image =
    spark.sql(
      s"""SELECT itemid, category, CAST(ROUND(price * 100) AS BIGINT), quantity,
         |       unix_micros(replicadmstimestamp)
         |FROM $table WHERE invoiceid = $id""".stripMargin)
      .collect().headOption
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3), r.getLong(4)))

  def expected(m: SilverModel, id: Long): Image = m.rowVersion(id).map(v =>
    (Orders.itemId(id), Orders.category(id, v), Orders.priceCents(id, v),
      Orders.quantity(id, v), Orders.tsMicros(id, v)))
}

/** Near-duplicate corpus ingest: the source corpus is loaded first, then
  * seeded batches derived from it, with injected exact and near
  * duplicates, go through Dedup.dedupAppend into the corpus table, and
  * Dedup.minhashPairs finds the batch's near-duplicate pairs; consumers
  * then probe the corpus by fingerprint. */
final class CorpusDedup(ctx: Ctx, sourceFile: String) extends Workload {
  import ctx.{spark, tracer}
  private val Batch = 2000
  /** near-duplicate family threshold, below minhashPairs' 0.8 so no pair
    * the operator may report is split over two families */
  private val FamilyJaccard = 0.5
  private var dir = ""
  private var docs: DocGen = _
  private var cat: GraftCatalog = _
  private var nextId = 0L
  private val seenFps = scala.collection.mutable.HashSet.empty[String]
  /** corpus texts with their family: a doc and its near duplicates */
  private val corpusDocs = ArrayBuffer.empty[(String, Int)]
  private var families = 0
  private var ingested = 0L
  private var offered, kept, injectedPairs, foundPairs = 0L
  private val Schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  /** source texts in doc_id order, with their near-duplicate families */
  private lazy val (source, sourceFams) = {
    val t = spark.read.parquet(sourceFile).orderBy("doc_id").select("text")
      .collect().map(_.getString(0)).toIndexedSeq
    (t, Text.families(t, FamilyJaccard))
  }

  private def corpusDir = s"$dir/wh/corpus"
  private def corpus = GraftTable(spark, corpusDir)

  def warmupRounds: Int = 3
  def tableDirs: Seq[String] = Seq(corpusDir)
  def userBytesIngested: Long = ingested

  def prebuild(d: String): Unit = {
    dir = d
    docs = new DocGen(ctx.seed, source)
    nextId = 0L; seenFps.clear(); corpusDocs.clear(); ingested = 0L
    val expect = source.map(Text.fingerprint).distinct.size
    val n = graft.operators.Dedup.dedupAppend(corpus, frame(source), "doc_id", "text")
    require(n == expect, s"initial corpus load kept $n of $expect distinct")
    source.zip(sourceFams).foreach { case (t, f) => remember(t, f) }
    families = source.size
    cat = new GraftCatalog(spark, s"$dir/wh")
    cat.register("corpus")
  }

  private def remember(t: String, family: Int): Unit =
    if (seenFps.add(Text.fingerprint(t))) corpusDocs += ((t, family))

  private def frame(texts: Seq[String]): DataFrame = {
    val rows = texts.map { t => nextId += 1; ingested += t.getBytes(UTF_8).length; Row(nextId, t) }
    Workloads.rowsFrame(spark, rows, Schema, ctx.nproc)
  }

  /** A batch: fresh docs; near duplicates (the source's 5% rate and
    * " dup" rule) and exact duplicates of fresh docs in the batch; exact
    * re-sends of corpus docs. Half the exact copies differ in casing and
    * spacing only, which the fingerprint normalises away. A batch holds at
    * most two docs of one family (a fresh doc and its one duplicate), so
    * the expected near-duplicate pairs are exactly the injected ones. */
  def round(): Unit = {
    val r = docs.rng
    val texts = ArrayBuffer.empty[String]
    val fams = ArrayBuffer.empty[Int]
    val pairs = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val base = nextId
    val sources = ArrayBuffer.empty[Int]
    val batchFams = scala.collection.mutable.HashSet.empty[Int]
    def maybeVariant(t: String) = if (r.nextBoolean()) docs.variant(t) else t
    while (texts.size < Batch) {
      val u = r.nextDouble()
      if (u < 0.08 && sources.nonEmpty) {
        val src = sources.remove(r.nextInt(sources.size))
        val t = if (u < 0.05) docs.nearDup(texts(src)) else maybeVariant(texts(src))
        texts += t; fams += fams(src)
        if (Text.jaccard3(texts(src), t) >= 0.8)
          pairs += ((base + src + 1, base + texts.size))
      } else if (u < 0.13) {
        // a re-sent corpus doc whose family is not in the batch yet
        val (t, f) = corpusDocs(r.nextInt(corpusDocs.size))
        if (batchFams.add(f)) { texts += maybeVariant(t); fams += f }
      } else {
        sources += texts.size
        texts += docs.fresh(); fams += families; families += 1
      }
    }
    val expectKept = texts.map(Text.fingerprint).distinct.count(fp => !seenFps.contains(fp))
    val df = frame(texts.toSeq)
    val bytes = texts.map(_.getBytes(UTF_8).length.toLong).sum
    ctx.op("cycle", "operators.cycle", texts.size.toLong, bytes) {
      val n = tracer.span("operators.dedup_append")(
        graft.operators.Dedup.dedupAppend(corpus, df, "doc_id", "text"))
      val found = tracer.span("operators.minhash")(
        graft.operators.Dedup.minhashPairs(df, "doc_id", "text")
          .select("id_a", "id_b").collect())
        .map(p => (p.getLong(0), p.getLong(1))).toSet
      tracer.span("catalog.refresh")(cat.refresh("corpus"))
      (n, found)
    } { case (n, found) =>
      texts.zip(fams).foreach { case (t, f) => remember(t, f) }
      if (ctx.timing) {
        offered += texts.size; kept += n
        injectedPairs += pairs.size; foundPairs += found.intersect(pairs).size
      }
      // LSH recall is approximate by design; every reported pair must be
      // a true near duplicate (they are verified by exact Jaccard)
      Checks.diff("kept", n, expectKept.toLong) ++
        Checks.setDiff("near-dup pairs beyond the injected ones", found -- pairs, Set.empty)
    }
    // consumers: "seen this document?" by fingerprint, two hits two misses
    val probes = Seq.fill(2)(corpusDocs(r.nextInt(corpusDocs.size))._1) ++
      Seq.fill(2)(docs.fresh())
    probes.foreach { t =>
      val fp = Text.fingerprint(t)
      ctx.op("read", "sql.point") {
        tracer.span("sql.point")(spark.sql(
          s"SELECT COUNT(*) FROM corpus WHERE fingerprint = '$fp'").collect()(0).getLong(0))
      }(n => Checks.diff(s"fingerprint $fp", n, if (seenFps.contains(fp)) 1L else 0L))
    }
  }

  def finalChecks(): Unit = ctx.check("corpus fingerprints") {
    val got = corpus.read().select("fingerprint").collect().map(_.getString(0))
    Checks.diff("corpus rows", got.length, seenFps.size) ++
      Checks.diff("corpus fingerprint set", got.toSet == seenFps, true)
  }

  override def layerExtras(traced: Seq[OpRec]): Map[String, Double] = {
    val cycles = traced.filter(_.kind == "cycle")
    Workloads.tableLayer(Seq(corpus), cycles, cycles.map(_.userBytes).sum) +
      ("operators.kept_ratio" -> (if (offered > 0) kept.toDouble / offered else 0.0)) +
      ("operators.minhash_recall" ->
        (if (injectedPairs > 0) foundPairs.toDouble / injectedPairs else 0.0))
  }
}
