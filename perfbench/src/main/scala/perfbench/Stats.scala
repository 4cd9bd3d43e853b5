package perfbench

import scala.util.hashing.MurmurHash3

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail of a latency sample: the highest whole percentile that
    * still has at least ten samples beyond it, with its nearest-rank
    * value. Needs at least 11 samples; returns (percentile, value).
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val p = math.min(99, (100L * (n - 10) / n).toInt)
      val rank = math.ceil(p * n / 100.0).toInt
      Some((p, xs.sorted.apply(rank - 1)))
    }
  }
}

/** Order-insensitive digest of a bag of rows: the row count and the
  * wrapping sum of a 64-bit hash of each row's canonical text.
  */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
}

object Digest {
  val empty: Digest = Digest(0, 0)

  def render(v: Any): String = v match {
    case null => "␀"
    case x => x.toString
  }

  def row(vals: Seq[Any]): Digest = {
    val s = vals.map(render).mkString("\u0001")
    Digest(1, (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL))
  }

  def of(rows: Iterable[Seq[Any]]): Digest =
    rows.foldLeft(empty)((d, r) => d + row(r))

  def ofRows(rows: Array[org.apache.spark.sql.Row]): Digest =
    of(rows.map(_.toSeq))
}
