package graftbench

import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** A generated input message, as the checks need it. */
final case class GenMsg(partition: Int, offset: Long, key: String, amount: Long)

/** A committed output record of the stream, parsed back from the broker. */
final case class OutRec(key: String, balance: Long, srcPartition: Int, srcOffset: Long)

/** The eos_stream correctness checks. Each returns the failures it found,
  * empty when the output is correct. They are pure so that the self-test
  * can run them on deliberately corrupted outputs. */
object EosChecks {
  def committedEqualsGenerated(gen: Seq[GenMsg], out: Seq[OutRec]): Seq[String] =
    if (out.size == gen.size) Nil
    else Seq(s"committed ${out.size} records for ${gen.size} generated")

  def noSourceCommittedTwice(out: Seq[OutRec]): Seq[String] = {
    val dups = out.groupBy(o => (o.srcPartition, o.srcOffset)).collect {
      case (src, os) if os.size > 1 => src
    }
    if (dups.isEmpty) Nil
    else Seq(s"${dups.size} source (partition, offset) committed more than once, " +
      s"e.g. ${dups.head}")
  }

  /** Group offsets are next-to-read: one past each partition's last offset. */
  def groupOffsetsAtEnd(gen: Seq[GenMsg], groupOffsets: Map[Int, Long]): Seq[String] = {
    val ends = gen.groupBy(_.partition).map { case (p, ms) => p -> (ms.map(_.offset).max + 1) }
    (ends.keySet ++ groupOffsets.keySet).toSeq.sorted.flatMap { p =>
      val (e, g) = (ends.get(p), groupOffsets.get(p))
      if (e == g) None else Some(s"partition $p: group offset $g, end offset $e")
    }
  }

  /** Each key's last committed balance (its output with the highest source
    * offset) equals a fold of the generated amounts in offset order. */
  def finalBalances(gen: Seq[GenMsg], out: Seq[OutRec]): Seq[String] = {
    val expected = gen.sortBy(m => (m.partition, m.offset)).foldLeft(Map.empty[String, Long]) {
      (acc, m) => acc.updated(m.key, acc.getOrElse(m.key, 0L) + m.amount)
    }
    val got = out.groupBy(_.key).map { case (k, os) =>
      k -> os.maxBy(o => (o.srcPartition, o.srcOffset)).balance
    }
    val bad = expected.keySet.union(got.keySet).toSeq.sorted
      .filter(k => expected.get(k) != got.get(k))
    if (bad.isEmpty) Nil
    else Seq(s"${bad.size} keys with a wrong final balance, e.g. ${bad.head}: " +
      s"expected ${expected.get(bad.head)}, committed ${got.get(bad.head)}")
  }

  def all(gen: Seq[GenMsg], out: Seq[OutRec], groupOffsets: Map[Int, Long]): Seq[(String, Seq[String])] =
    Seq(
      "committed_equals_generated" -> committedEqualsGenerated(gen, out),
      "no_source_committed_twice" -> noSourceCommittedTwice(out),
      "group_offsets_at_end" -> groupOffsetsAtEnd(gen, groupOffsets),
      "final_balances" -> finalBalances(gen, out))
}

/** Canonical digest of a query result, in the form of the repository's
  * oracle comparison: columns sorted by name, rows sorted, every value
  * written in one type-independent text form (integers of any width alike,
  * decimals without trailing zeros, timestamps as epoch microseconds). */
object Digest {
  def of(schema: StructType, rows: Seq[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => fmt(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.fieldNames.sorted.mkString("\u0001").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else java.lang.Double.toString(d)

  def fmt(v: Any): String = v match {
    case null => "\\N"
    case x: Byte => x.toLong.toString
    case x: Short => x.toLong.toString
    case x: Int => x.toLong.toString
    case x: Long => x.toString
    case x: Float => if (x.isNaN) "NaN" else if (x == 0.0f) "0.0" else java.lang.Float.toString(x)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal =>
      if (x.signum == 0) "0" else x.stripTrailingZeros.toPlainString
    case x: scala.math.BigDecimal => fmt(x.bigDecimal)
    case x: Boolean => x.toString
    case x: String =>
      x.replace("\\", "\\\\").replace("\n", "\\n").replace("\u0001", "\\1")
    case x: java.sql.Timestamp => micros(x.toInstant).toString
    case x: java.time.Instant => micros(x).toString
    case x: java.time.LocalDateTime => micros(x.toInstant(java.time.ZoneOffset.UTC)).toString
    case x: java.sql.Date => x.toLocalDate.toEpochDay.toString
    case x: java.time.LocalDate => x.toEpochDay.toString
    case x: Array[Byte] => x.map(b => f"$b%02x").mkString("0x", "", "")
    case x: Row if x.schema != null =>
      x.schema.fieldNames.zipWithIndex.sortBy(_._1)
        .map { case (n, i) => n + ":" + fmt(x.get(i)) }.mkString("{", ",", "}")
    case x: Row => x.toSeq.map(fmt).mkString("(", ",", ")")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, e) => fmt(k) + "=" + fmt(e) }.sorted.mkString("{", ",", "}")
    case x: scala.collection.Seq[_] => x.map(fmt).mkString("[", ",", "]")
    case x => throw new IllegalArgumentException(s"no canonical form for ${x.getClass.getName}")
  }
}
