package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

import graft.functions.{HashFunctions, RegexpGroups}

/** The reference's parse→normalize→key→dedup chain as one declarative Spark
  * pipeline (SURVEY.md §2.1-§2.6; /root/reference/irclogbot.py:122-142).
  *
  * Deliberate semantic fixes over the reference (documented, SURVEY §7.4(5)):
  *  - multi-line recv chunks are split into lines (the reference parses only
  *    the first line of a chunk, irclogbot.py:112-131);
  *  - undecodable input is dropped (the reference reprocesses a stale
  *    message on UnicodeDecodeError, irclogbot.py:113-118).
  */
object IrcParser {

  /** /root/reference/irclogbot.py:24 — groups: nick, user, host, channel,
    * remark. Anchored; optional `~` before user.
    */
  val MsgPattern = "^:([^!]+)!~?([^@]+)@(\\S+) PRIVMSG (\\S+) :(.+)$"

  /** Max nick length accepted (exclusive) — irclogbot.py:139-141. */
  val MaxNickLen = 17

  /** Split raw recv chunks into trimmed, non-empty lines. Lines carrying the
    * U+FFFD replacement char (what Spark's text sources substitute for
    * undecodable bytes) are dropped — the "drop bad input" semantic standing
    * in for the reference's broken decode-error path (S2, irclogbot.py:113-118
    * reprocesses a stale message instead).
    */
  def splitLines(chunks: DataFrame, chunkCol: String): DataFrame =
    chunks
      .select(explode(split(col(chunkCol), "\r?\n")).as("line"))
      .select(trim(col("line")).as("line"))
      .filter(length(col("line")) > 0)
      .filter(!col("line").contains(lit("�")))

  def isPing(line: Column): Column = line.contains("PING :")

  /** All five MsgPattern capture groups in ONE regex pass (r21 —
    * [[graft.functions.RegexpGroups]]): per-group semantics identical to
    * `regexp_extract(line, MsgPattern, i)` (first match; no match or
    * unmatched group → ""), but the line is matched once instead of once
    * per group. Read groups with
    * `element_at(_, i)` — same 1-based numbering as regexp_extract.
    */
  def extractGroups(line: Column): Column =
    GraftShim.column(RegexpGroups(GraftShim.expression(line), MsgPattern))

  /** ACTION emote → "/me" rewrite (irclogbot.py:137-138): startswith guard,
    * then str.replace — which replaces EVERY "ACTION " occurrence, not just
    * the prefix ("ACTION waves ACTION again" → "/me waves /me again"). The
    * compat blake2b id depends on this byte-exactly, so `replace` (literal,
    * all occurrences) it is.
    */
  def rewriteAction(remark: Column): Column =
    when(remark.startsWith("ACTION "),
      replace(remark, lit("ACTION "), lit("/me ")))
      .otherwise(remark)

  /** Full message parse: lines → {nick, channel, remark}, dropping PINGs,
    * non-PRIVMSG traffic and over-long nicks. Input column must be named
    * `line`.
    */
  def parse(lines: DataFrame): DataFrame = {
    // native one-pass group extract — the per-group regexp_extract form ran
    // the same anchored match three times per line (r21)
    val line = col("line")
    lines
      .filter(!isPing(line))
      .select(extractGroups(line).as("g"))
      .select(
        element_at(col("g"), 1).as("nick"),
        element_at(col("g"), 4).as("channel"),
        element_at(col("g"), 5).as("remark"))
      .filter(col("nick") =!= "" && col("channel") =!= "" && col("remark") =!= "")
      .filter(length(col("nick")) < MaxNickLen)
      .withColumn("remark", rewriteAction(col("remark")))
  }

  /** Stamp second-truncated event time + the v2 content key
    * (irclogbot.py:40-45; logbot_roundrobin.py:46-54). Dedup is applied by
    * the caller (batch `dropDuplicates` here in [[pipeline]]; watermarked
    * variant in graft.streaming.IrcStream so streaming state stays bounded).
    */
  def record(parsed: DataFrame, eventTime: Column = current_timestamp()): DataFrame =
    parsed
      .withColumn("posted", date_trunc("second", eventTime))
      .withColumn("id",
        HashFunctions.keyV2(col("channel"), col("nick"), col("remark")))

  /** Whole batch chain: raw chunks in, deduped log records out — the
    * reference's ES-upsert-by-id semantics (exactly one copy per id).
    */
  def pipeline(chunks: DataFrame, chunkCol: String = "value"): DataFrame =
    record(parse(splitLines(chunks, chunkCol))).dropDuplicates("id")
}
