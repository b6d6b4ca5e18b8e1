package lakebench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table-side digests compared against the in-memory models. */
object Checks {
  val HashMod: Long = 2147483647L

  final case class Digest(count: Long, sumQty: Long, checksum: Long)

  /** count, quantity sum and order-independent checksum of a silver-shaped
    * frame — the same canonical text as [[Orders.canon]]. */
  def silverDigest(df: DataFrame): Digest = {
    val canon = concat_ws("|",
      col("invoiceid").cast("string"), col("itemid").cast("string"),
      col("category"), round(col("price") * 100).cast("bigint").cast("string"),
      col("quantity").cast("string"), unix_date(col("orderdate")).cast("string"),
      col("destinationstate"), col("shippingtype"), col("referral"),
      unix_micros(col("replicadmstimestamp")).cast("string"))
    val r = df.select(pmod(xxhash64(canon), lit(HashMod)).as("h"),
        col("quantity").cast("bigint").as("q"))
      .agg(count(lit(1)), coalesce(sum("q"), lit(0L)),
        coalesce(sum("h"), lit(0L)))
      .collect()(0)
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def modelDigest(m: SilverModel): Digest = Digest(m.count, m.sumQty, m.checksum)

  def setDiff[T](what: String, got: Set[T], want: Set[T]): Seq[String] =
    if (got == want) Nil
    else Seq(s"$what: ${(got -- want).size} unexpected ${(got -- want).take(5)}, " +
      s"${(want -- got).size} missing ${(want -- got).take(5)}")

  def diff(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")
}
