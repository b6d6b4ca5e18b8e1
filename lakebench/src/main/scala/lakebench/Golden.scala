package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.pipeline.{BronzeToSilver, RawToBronze}
import graft.table.GraftTable

/** The reference's static demo scenario driven through the benchmark's op
  * machinery: five `I` rows, then two `U` rows for invoiceids 40994 and
  * 83597 with `####`-suffixed categories. Silver must end with five rows
  * and the two updated categories. Returns the run's failures. */
object Golden {
  private val Batch1 = Seq(
    "I\t2024-02-16 15:30:41.041474\t24137\t34\tdegree\t53.51\t1\t2023-03-29\tSC\t3-Day\tbook",
    "I\t2024-08-20 17:16:03.213831\t15587\t59\tbit\t40.94\t5\t2022-07-16\tPW\t3-Day\tmanagement",
    "I\t2024-10-28 20:02:37.424182\t42918\t69\tschool\t27.23\t3\t2024-04-29\tCT\t2-Day\ttrouble",
    "I\t2024-06-27 14:36:25.103244\t40994\t67\tmarket\t92.02\t1\t2021-05-21\tVI\t2-Day\tothers",
    "I\t2024-02-01 19:52:59.444793\t83597\t37\tlanguage\t97.07\t3\t2021-09-10\tSC\tStandard\tplay")
  private val Batch2 = Seq(
    "U\t2024-06-27 14:36:25.103244\t40994\t67\tmarket####\t92.02\t1\t2021-05-21\tVI\t2-Day\tothers",
    "U\t2024-02-01 19:52:59.444793\t83597\t37\tlanguage####\t97.07\t3\t2021-09-10\tSC\tStandard\tplay")

  def run(ctx: Ctx, dir: String): Seq[String] = {
    import ctx.spark
    val raw = s"$dir/raw"
    Files.createDirectories(Paths.get(raw))
    val toBronze = new RawToBronze(spark, raw, s"$dir/bronze", s"$dir/ckpt/ingest.json")
    val toSilver = new BronzeToSilver(spark, s"$dir/bronze", s"$dir/silver",
      s"$dir/ckpt/merge.json")
    val t0 = System.currentTimeMillis() - 60000L
    Seq(Batch1 -> 5L, Batch2 -> 5L).zipWithIndex.foreach { case ((rows, silverRows), i) =>
      val p = Paths.get(raw, s"golden-$i.tsv")
      Files.write(p, (Orders.Header.mkString("\t") +: rows).mkString("", "\n", "\n")
        .getBytes(UTF_8))
      p.toFile.setLastModified(t0 + i * 30000L)
      ctx.op("cycle", "golden.cycle", rows.size.toLong) {
        (toBronze.run(), toSilver.run())
      } { case (b, s) =>
        Checks.diff(s"batch $i bronze rows", b, rows.size.toLong) ++
          Checks.diff(s"batch $i silver rows", s, silverRows)
      }
    }
    ctx.check("golden silver") {
      val cats = GraftTable(spark, s"$dir/silver").read()
        .select("invoiceid", "category").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      Checks.diff("silver rows", cats.size, 5) ++
        Checks.diff("40994", cats.get(40994L), Some("market####")) ++
        Checks.diff("83597", cats.get(83597L), Some("language####")) ++
        Checks.diff("24137", cats.get(24137L), Some("degree"))
    }
    ctx.failures.toSeq
  }
}
