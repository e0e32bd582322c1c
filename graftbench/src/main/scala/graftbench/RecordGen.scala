package graftbench

import graft.model.ReducedConsumerRecord
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import java.util.{Base64, SplittableRandom}

/** Seeded, single-threaded generator of Kafka-shaped records: `topics`
  * topics of `partitions` partitions each, Zipf-distributed keys (about 1%
  * null), random payloads of `payloadBytes` bytes (Base64 on the wire,
  * as graft stores them) and per-partition offsets in generation order.
  * The same seed gives the same records.
  */
final class RecordGen(
    seed: Long,
    val topics: Int = 4,
    val partitions: Int = 8,
    val keys: Int = 50000,
    payloadBytes: Int = 150) {

  private val rnd = new SplittableRandom(seed)
  private val b64 = Base64.getEncoder
  /** Zipf(s = 1) over key ranks. */
  private val keyCdf: Array[Double] = {
    val w = Array.tabulate(keys)(k => 1.0 / (k + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private val keyText = Array.tabulate(keys)(k => b64.encodeToString(s"key-$k".getBytes("UTF-8")))
  private val nextOffset = Array.fill(topics * partitions)(0L)

  def uniform(): Double = rnd.nextDouble()
  def below(n: Int): Int = rnd.nextInt(n)

  /** Index into `cdf` drawn by inverse transform. */
  def pick(cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def record(tsMs: Long): ReducedConsumerRecord = {
    val t = rnd.nextInt(topics)
    val nullKey = rnd.nextInt(100) == 0
    val k = pick(keyCdf)
    // a key always lands on the same partition of a topic, as with Kafka's
    // default partitioner
    val p = if (nullKey) rnd.nextInt(partitions) else Math.floorMod(k * 31 + t, partitions)
    val slot = t * partitions + p
    val off = nextOffset(slot)
    nextOffset(slot) = off + 1
    val payload = new Array[Byte](payloadBytes)
    rnd.nextBytes(payload)
    ReducedConsumerRecord(s"t$t", p, off, if (nullKey) None else Some(keyText(k)),
      b64.encodeToString(payload), tsMs, 0)
  }
}

object RecordGen {
  /** Spark's `xxhash64(topic, partition, offset, key, value, timestamp,
    * timestamp_type)` of one record, so a digest of generated records can
    * be compared with [[Digest]] over what graft wrote.
    */
  def hash(r: ReducedConsumerRecord): Long = {
    def str(s: String, seed: Long): Long = {
      val u = UTF8String.fromString(s)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
    }
    var h = 42L
    h = str(r.topic, h)
    h = XXH64.hashInt(r.partition, h)
    h = XXH64.hashLong(r.offset, h)
    r.key.foreach(k => h = str(k, h))
    h = str(r.value, h)
    h = XXH64.hashLong(r.timestamp, h)
    XXH64.hashInt(r.timestampType, h)
  }
}
