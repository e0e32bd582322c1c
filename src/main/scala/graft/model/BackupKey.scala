package graft.model

import java.time.{Instant, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit
import scala.util.Try

/** Time-window configuration, mirroring the reference's two modes
  * (core-backup/.../configs/TimeConfiguration.scala:7-23):
  *  - PeriodFromFirst: tumbling windows anchored at the first record's
  *    timestamp (not calendar-aligned, not resumable).
  *  - ChronoUnitSlice: calendar-aligned tumbling windows; keys truncated
  *    to the unit; resuming appends to the in-flight slice.
  */
sealed trait TimeConfiguration
final case class PeriodFromFirst(durationMillis: Long) extends TimeConfiguration
final case class ChronoUnitSlice(unit: ChronoUnit) extends TimeConfiguration
/** PeriodFromFirst with the anchor already resolved (streaming runs). */
private[graft] final case class AnchoredPeriod(anchorMs: Long, durationMillis: Long)
  extends TimeConfiguration

sealed trait CompressionType { def pretty: String }
case object Gzip extends CompressionType { val pretty = "gzip" }

/** Backup object-key codec: `<ISO_OFFSET_DATE_TIME>.json[.gz]`, with the
  * timestamp truncated to the chrono unit for ChronoUnitSlice
  * (reference: core-backup/.../BackupClientInterface.scala:508-532
  * `calculateKey`; core/.../Utils.scala:19-25 `keyToOffsetDateTime`;
  * core/.../models/BackupObjectMetadata.scala:5-11 gzip-from-suffix).
  */
object BackupKey {
  private val fmt = DateTimeFormatter.ISO_OFFSET_DATE_TIME

  def calculateKey(
      ts: OffsetDateTime,
      timeConf: TimeConfiguration,
      compression: Option[CompressionType]
  ): String = {
    val t = timeConf match {
      case ChronoUnitSlice(unit) => ts.truncatedTo(unit)
      case _                     => ts // PeriodFromFirst / AnchoredPeriod
    }
    val suffix = compression match {
      case Some(Gzip) => ".json.gz"
      case None       => ".json"
    }
    s"${fmt.format(t)}$suffix"
  }

  def ofEpochMillis(millis: Long): OffsetDateTime =
    Instant.ofEpochMilli(millis).atOffset(ZoneOffset.UTC)

  /** Strip extensions until an OffsetDateTime parses (Utils.scala:19-25). */
  def keyToOffsetDateTime(key: String): OffsetDateTime = {
    val name = key.substring(key.lastIndexOf('/') + 1)
    @annotation.tailrec
    def loop(s: String): OffsetDateTime =
      Try(OffsetDateTime.parse(s, fmt)).toOption match {
        case Some(t) => t
        case None =>
          val dot = s.lastIndexOf('.')
          if (dot < 0) throw new IllegalArgumentException(s"no timestamp in key: $key")
          loop(s.substring(0, dot))
      }
    loop(name)
  }

  /** Hadoop-safe child path: ISO keys contain `:` which `new Path(parent,
    * child)` would misparse as a URI scheme; a full string path whose first
    * `:` follows a `/` parses correctly.
    */
  def resolve(dir: String, name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      if (dir.endsWith("/")) dir + name else dir + "/" + name)
}
