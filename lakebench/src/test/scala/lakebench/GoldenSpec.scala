package lakebench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Self-checks of the benchmark harness (run with `sbt test` in this
  * directory). */
class GoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("lakebench-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.GraftExtensions)
    .getOrCreate()

  private def ctx() = new Ctx(spark, new Tracer(false), None, 1L, 2)
  private def tmp() = java.nio.file.Files.createTempDirectory("lakebench").toString

  test("reference I-then-U batches converge to the five-row golden silver") {
    val c = ctx()
    assert(Golden.run(c, tmp()) === Seq.empty)
    assert(c.attempted === 3L)
    assert(c.failed === 0L)
  }

  test("a wrong expectation is counted as a failure, not masked") {
    val c = ctx()
    c.op("read", "probe")(41L)(n => Checks.diff("answer", n, 42L))
    c.op("read", "boom")(throw new IllegalStateException("x"))(_ => Nil)
    assert(c.attempted === 2L && c.failed === 2L)
  }

  test("generated CDC batches keep one row per key and a consistent model") {
    val m = new SilverModel(1000)
    (1L to 1000L).foreach(m.upsert(_, 0))
    val g = new CdcGen(7L, 1000, 0.9)
    (1 to 5).foreach { _ =>
      val b = g.batch(m, 300, 0.8, 0.05)
      assert(b.map(_.id).distinct.size === b.size)
      assert(b.filter(_.op == 'D').forall(c => m.present(c.id)))
      b.foreach(m.apply)
    }
    val ids = (1L to m.maxId).filter(m.present)
    assert(m.count === ids.size.toLong)
    assert(m.checksum === ids.map(i => Orders.rowHash(i, m.rowVersion(i).get)).sum)
  }

  test("the Spark-side silver digest matches the model's") {
    val m = new SilverModel(100)
    (1L to 100L).foreach(i => m.upsert(i, (i % 3).toInt))
    val rows = (1L to 100L).map(i => Orders.silverRow(i, m.rowVersion(i).get))
    val df = Workloads.rowsFrame(spark, rows, Workloads.SilverSchema, 2)
    assert(Checks.silverDigest(df) === Checks.modelDigest(m))
  }

  test("the model's document fingerprint and families follow the program's normal form") {
    val g = new DocGen(3L, IndexedSeq("spark table merge join key row data scan sort order"))
    val t = g.fresh()
    val texts = Seq(t, g.variant(t), g.nearDup(t))
    val df = spark.createDataFrame(texts.map(Tuple1(_))).toDF("text")
    val got = df.select(graft.functions.TextFunctions.fingerprint_md5(
      org.apache.spark.sql.functions.col("text"))).collect().map(_.getString(0)).toSeq
    assert(got === texts.map(Text.fingerprint))
    assert(got(0) === got(1) && got(0) != got(2))
    assert(Text.jaccard3(t, g.nearDup(t)) >= 0.8)
    val fams = Text.families(IndexedSeq(t, g.fresh(), g.nearDup(t)), 0.5)
    assert(fams(0) === fams(2))
  }
}
