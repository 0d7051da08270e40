package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Shows that every correctness check passes on a correct output and fails
  * on a deliberately corrupted one: a dropped record, a duplicated commit,
  * one perturbed balance, a group offset short of the end, and one altered
  * query row. Returns a non-zero exit code when any check misses. */
object SelfTest {
  def run(): Int = {
    val rng = new java.util.SplittableRandom(7)
    val gen = {
      val next = scala.collection.mutable.Map.empty[Int, Long]
      (0 until 500).map { _ =>
        val key = s"acct-${rng.nextInt(40)}"
        val p = graft.functions.Murmur3.partition(key, EosApp.Partitions)
        val off = next.getOrElse(p, 0L)
        next(p) = off + 1
        GenMsg(p, off, key, rng.nextLong(-2500L, 501L))
      }
    }
    val out = gen.foldLeft((Map.empty[String, Long], Vector.empty[OutRec])) {
      case ((bal, acc), m) =>
        val b = bal.getOrElse(m.key, 0L) + m.amount
        (bal.updated(m.key, b), acc :+ OutRec(m.key, b, m.partition, m.offset))
    }._2
    val offsets = gen.groupBy(_.partition).map { case (p, ms) => p -> (ms.map(_.offset).max + 1) }

    val lastOfKey = out.lastIndexWhere(_.key == out.head.key)
    val corrupt: Seq[(String, String, Seq[OutRec], Map[Int, Long])] = Seq(
      ("dropped record", "committed_equals_generated", out.patch(100, Nil, 1), offsets),
      ("duplicated commit", "no_source_committed_twice", out :+ out(100), offsets),
      ("perturbed balance", "final_balances",
        out.updated(lastOfKey, out(lastOfKey).copy(balance = out(lastOfKey).balance + 1)), offsets),
      ("group offset short of the end", "group_offsets_at_end", out,
        offsets.updated(offsets.keys.head, offsets(offsets.keys.head) - 1)))

    var misses = 0
    def report(ok: Boolean, what: String): Unit = {
      println(s"  ${if (ok) "ok  " else "MISS"} $what")
      if (!ok) misses += 1
    }
    EosChecks.all(gen, out, offsets).foreach { case (n, f) =>
      report(f.isEmpty, s"$n passes on the correct output")
    }
    corrupt.foreach { case (what, check, o, offs) =>
      val failed = EosChecks.all(gen, o, offs).toMap
      report(failed(check).nonEmpty, s"$check fails on a $what")
    }

    val schema = StructType(Seq(StructField("n", LongType), StructField("name", StringType),
      StructField("v", DoubleType), StructField("tags", ArrayType(StringType))))
    val rows: Seq[Row] = (0 until 50).map(i =>
      new GenericRowWithSchema(Array[Any](i.toLong, s"row$i", i / 3.0, Seq("a", s"t$i")), schema))
    val d = Digest.of(schema, rows)
    report(Digest.of(schema, rows.reverse) == d, "query digest ignores row order")
    val altered = rows.updated(17, new GenericRowWithSchema(Array[Any](17L, "row17", 17 / 3.0 + 1e-9,
      Seq("a", "t17")), schema))
    report(Digest.of(schema, altered) != d, "query digest changes on one altered row")
    report(Digest.of(schema, rows.take(49)) != d, "query digest changes on a dropped row")

    println(s"selftest: ${if (misses == 0) "PASS" else s"FAIL ($misses missed)"}")
    if (misses == 0) 0 else 1
  }
}
