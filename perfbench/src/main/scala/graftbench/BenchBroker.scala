package graftbench

import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable
import graft.sinks.TxProducerClient

/** The transactional broker the stream produces into: an in-process
  * stand-in for Kafka, owned by the benchmark. Produced records become
  * visible and the group's offsets move together, at commit;
  * `committedOffset` answers, so the sink's post-commit replay filter is
  * active. Every client call is timed. */
object BenchBroker {
  final case class Record(topic: String, partition: Int, key: String, value: String,
      commitNs: Long)

  private val lock = new Object
  private val records = mutable.ArrayBuffer.empty[Record]
  private val offsets = mutable.Map.empty[(String, String, Int), Long]

  val clientNs = new LongAdder
  val commits = new LongAdder
  val commitCalls = new LongAdder

  def reset(): Unit = lock.synchronized {
    records.clear(); offsets.clear()
    clientNs.reset(); commits.reset(); commitCalls.reset()
  }

  def committed: Seq[Record] = lock.synchronized(records.toList)
  def committedCount: Int = lock.synchronized(records.size)
  def groupOffsets(group: String, topic: String): Map[Int, Long] = lock.synchronized {
    offsets.collect { case ((g, t, p), o) if g == group && t == topic => p -> o }.toMap
  }

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally clientNs.add(System.nanoTime() - t0)
  }

  def client(): TxProducerClient = new TxProducerClient {
    private val pending = mutable.ArrayBuffer.empty[(String, Int, String, String)]
    private var pendingOffsets = Map.empty[(String, Int), Long]
    private var group: String = _

    override def initTransactions(): Unit = ()
    override def beginTransaction(): Unit = timed {
      pending.clear(); pendingOffsets = Map.empty
    }
    override def produce(topic: String, partition: Int, key: String, value: String,
        headers: Map[String, String]): Unit = timed {
      pending += ((topic, partition, key, value))
    }
    override def sendOffsetsToTransaction(o: Map[(String, Int), Long], groupId: String): Unit =
      timed { pendingOffsets ++= o; group = groupId }
    override def commitTransaction(timeoutSecs: Int): Unit = timed {
      commitCalls.increment()
      lock.synchronized {
        val now = System.nanoTime()
        pending.foreach { case (t, p, k, v) => records += Record(t, p, k, v, now) }
        pendingOffsets.foreach { case ((t, p), o) => offsets((group, t, p)) = o }
      }
      commits.increment()
      pending.clear(); pendingOffsets = Map.empty
    }
    override def abortTransaction(timeoutSecs: Int): Unit = timed {
      pending.clear(); pendingOffsets = Map.empty
    }
    override def committedOffset(groupId: String, topic: String, partition: Int): Option[Long] =
      timed(lock.synchronized(offsets.get((groupId, topic, partition))))
  }
}
