package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Content-key hashing — the reference's defining dedup primitive.
  *
  * The reference assigns every record an 8-byte blake2b digest over its
  * stringified field values and upserts by that id
  * (/root/reference/utils.py:125-136, irclogbot.py:44-51). Two key variants:
  * v1 includes the timestamp, v2 (logbot_roundrobin.py:50-54) excludes it so
  * the same message seen by two bots seconds apart collides.
  *
  * Engine keys here are *not* blake2b: they are md5 (bit-identical in
  * DuckDB, so every keyed query sits under the oracle). Bit-exact blake2b
  * compat lives in [[Blake2b]] behind the scalatest goldens only.
  */
object HashFunctions {

  /** Deterministic cross-engine content key: md5 over '|'-joined stringified
    * columns. Used by oracle-paired dedup queries (DuckDB md5 == Spark md5).
    */
  def contentKey(cols: Column*): Column =
    md5(concat_ws("|", cols.map(_.cast("string")): _*))

  /** The top 60 bits of md5(`x`) as a non-negative bigint: the hash the
    * sampling, splitting and md5-family dedup code shares because DuckDB
    * mirrors it exactly (`CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`).
    */
  def md5Hash60(x: Column): Column =
    conv(substring(md5(x), 1, 15), 16, 10).cast("long")

  /** v1-shaped key: fields including the (second-truncated) event time. */
  def keyV1(channel: Column, nick: Column, posted: Column, remark: Column): Column =
    contentKey(channel, nick, date_format(posted, "yyyy-MM-dd'T'HH:mm:ss"), remark)

  /** v2-shaped key: time excluded (cross-observer dedup, the reference's
    * deliberate fix — logbot_roundrobin.py:51-53).
    */
  def keyV2(channel: Column, nick: Column, remark: Column): Column =
    contentKey(channel, nick, remark)
}
