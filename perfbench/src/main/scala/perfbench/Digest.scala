package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Ordered-row digest of a query result, computed where the rows are.
  *
  * Each row is rendered to canonical text and folded into a polynomial
  * hash, acc = acc * B + h(row) + 1 (mod P), under two independent
  * moduli. Concatenation composes (left * B^n(right) + right), so the
  * per-partition digests combine in partition order into the digest of
  * the whole ordered result, whatever the number of partitions: the
  * value recorded on one machine checks a run on another core count. */
object Digest {
  private val P = Array(2147483647L, 2147483629L)
  private val B = Array(1000003L, 916132831L)

  /** Canonical text of a value: exact decimal for floating point, hex
    * for binary, map entries sorted, nested rows and arrays recursed. */
  def text(v: Any): String = v match {
    case null => "␀"
    case r: Row => r.toSeq.map(text).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => text(k) + "->" + text(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(text).mkString("[", ",", "]")
    case other => other.toString
  }

  private def powMod(b: Long, e: Long, p: Long): Long = {
    var r = 1L; var x = b % p; var k = e
    while (k > 0) { if ((k & 1) == 1) r = r * x % p; x = x * x % p; k >>= 1 }
    r
  }

  /** (digest, row count) of `df` in its declared output order. */
  def of(df: DataFrame): (String, Long) = {
    val parts = df.rdd.mapPartitionsWithIndex { (i, rows) =>
      val acc = Array(0L, 0L)
      var n = 0L
      rows.foreach { r =>
        val s = text(r)
        for (j <- 0 to 1) {
          val h = (MurmurHash3.stringHash(s, j + 1) & 0x7fffffffL) % P(j)
          acc(j) = (acc(j) * B(j) + h + 1) % P(j)
        }
        n += 1
      }
      Iterator((i, acc(0), acc(1), n))
    }.collect().sortBy(_._1)
    val total = Array(0L, 0L)
    parts.foreach { case (_, a0, a1, n) =>
      val a = Array(a0, a1)
      for (j <- 0 to 1) total(j) = (total(j) * powMod(B(j), n, P(j)) + a(j)) % P(j)
    }
    (f"${total(0)}%08x${total(1)}%08x", parts.map(_._4).sum)
  }
}
