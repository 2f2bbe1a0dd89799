package graft.queries

import graft.functions.Portable
import graft.operators.Chunker
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 operators expressed as DuckDB-checkable queries over the
  * driver's testdata tables. The CDC change-log view is derived portably
  * (md5-based partitioning, no Spark-specific hashes) from the `events`
  * table, so DuckDB recomputes the identical log:
  *
  *   partition = md5bucket(user_id) % 4     (↔ TopicPartition)
  *   offset    = event_id                   (monotonic per partition)
  *   op        = delete iff event_type = 'error'
  *   key       = (repo, path) from user_id
  *   content   = props
  */
object CdcQueries {

  /** The portable change-log view (Spark side). */
  def changes(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    ev.select(
      pmod(Portable.md5Long(col("user_id").cast("string")), lit(4L)).cast("int").as("partition"),
      col("event_id").as("offset"),
      when(col("event_type") === "error", lit("delete")).otherwise(lit("upsert")).as("op"),
      concat(lit("repo-"), pmod(col("user_id"), lit(10L)).cast("string")).as("repo"),
      concat(lit("f"), col("user_id").cast("string")).as("path"),
      col("props").as("content"),
      col("ts"), col("value"), col("user_id"), col("event_type"))
  }

  /** The portable change-log view (DuckDB side), as a WITH prefix. */
  val duckChanges: String =
    """WITH changes AS (
      |  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS INT) AS partition,
      |         event_id AS "offset",
      |         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
      |         'repo-' || CAST(user_id % 10 AS VARCHAR) AS repo,
      |         'f' || CAST(user_id AS VARCHAR) AS path,
      |         props AS content,
      |         ts, value, user_id, event_type
      |  FROM events
      |)""".stripMargin

  /** stable staging tag suffix for a testdata dir */
  private def dirTag(dir: String): String = dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** the text-framed archive lines shared by the gz-archive gates */
  private def archiveLines(s: SparkSession, dir: String): DataFrame =
    changes(s, dir).select(col("partition"), col("offset"),
      concat(col("repo"), lit("/"), col("path"), lit("\t"),
        coalesce(col("content"), lit(""))).as("line"))

  /** order-insensitive exact checksum term: md5-derived 60-bit value reduced
    * mod 2^31, so sums stay BIGINT on both engines (a DECIMAL/HUGEINT output
    * would hit reader-representation drift in the driver's value hash).
    * [[duckMd5SumTerm]] is the textually-adjacent DuckDB twin — keep them in
    * lockstep; six gates checksum through this one pair.
    */
  private[queries] def md5SumTerm(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(Portable.md5Long(c), lit(2147483648L))

  private[queries] def duckMd5SumTerm(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT % 2147483648"

  /** Build-once-per-JVM shared block-gzip archive over the change log
    * (marker-gated: a crashed build is rebuilt, a complete one is reused).
    * Public so Bench can time the build separately from the reads.
    */
  def sharedArchive(s: SparkSession, dir: String): String = {
    val (root, ready) = Staging.cached(s, "gzarch-" + dirTag(dir))
    if (!ready) {
      graft.sources.GzArchive.writeArchive(archiveLines(s, dir), root,
        "changes", "offset", chunkThreshold = 4096, recordsPerFile = 5000)
      Staging.markReady(s, root)
    }
    root
  }

  /** Build-once-per-JVM shared TWO-TOPIC archive (the change log split by
    * op into `upserts`/`deletes` file families in one bucket), used by the
    * multi-topic read gate and the config-driven remap gate.
    */
  private def sharedMultiTopicArchive(s: SparkSession, dir: String): String = {
    val (root, ready) = Staging.cached(s, "gzarch-multi-" + dirTag(dir))
    if (!ready) {
      val lines = changes(s, dir).select(
        when(col("op") === "delete", lit("deletes"))
          .otherwise(lit("upserts")).as("topic"),
        col("partition"), col("offset"),
        concat(col("repo"), lit("/"), col("path"), lit("\t"),
          coalesce(col("content"), lit(""))).as("line"))
      graft.sources.GzArchive.writeArchiveTopics(lines, root, "offset",
        chunkThreshold = 4096, recordsPerFile = 2000)
      Staging.markReady(s, root)
    }
    root
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // K1/G2 — deterministic block chunk assignment (BlockGZIPFileWriter port)
    "cdc_chunk_assign" -> { (s, dir) =>
      Chunker.chunkDescriptors(Chunker.assignChunks(changes(s, dir), 1000L))
        .select(col("partition"), col("chunk_id"),
          col("first_record_offset"), col("num_records"),
          col("byte_offset"), col("byte_length_uncompressed"))
    },

    // S6/G4 — offset recovery: next offset per partition = max+1
    "cdc_offset_recovery" -> { (s, dir) =>
      changes(s, dir).groupBy(col("partition")).agg(
        (max(col("offset")) + 1L).as("next_offset"),
        count(lit(1)).as("n_events"))
    },

    // P1 — partition filter (assigned-partition pruning)
    "cdc_partition_filter" -> { (s, dir) =>
      changes(s, dir).filter(col("partition").isin(0, 2))
        .groupBy(col("partition"), col("op"))
        .agg(count(lit(1)).as("n"), min(col("offset")).as("min_offset"),
          max(col("offset")).as("max_offset"))
    },

    // P2 — offset-skip predicate: resume past per-partition committed offsets
    "cdc_offset_skip" -> { (s, dir) =>
      val committed = s.createDataFrame(
        Seq((0, 100L), (1, 150L), (2, 200L), (3, 250L)))
        .toDF("partition", "committed")
      changes(s, dir)
        .join(broadcast(committed), Seq("partition"))
        .filter(col("offset") > col("committed"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n"), min(col("offset")).as("first_replayed"))
    },

    // G3 + MERGE semantics — last-writer-wins final state (the flagship)
    "cdc_lww_state" -> { (s, dir) =>
      val c = changes(s, dir)
      c.groupBy(col("repo"), col("path"))
        .agg(max_by(struct(col("op"), col("partition"), col("offset"), col("content")),
          col("offset")).as("_s"))
        .select(col("repo"), col("path"), col("_s.partition").as("partition"),
          col("_s.offset").as("last_offset"), col("_s.content").as("content"),
          col("_s.op").as("op"))
        .filter(col("op") === "upsert").drop("op")
        .withColumn("content_md5", md5(col("content")))
    },

    // G3 — monotonic dedup gate under simulated redelivery (union with self)
    "cdc_dedup_redelivery" -> { (s, dir) =>
      val c = changes(s, dir).select("partition", "offset")
      c.unionAll(c).dropDuplicates("partition", "offset")
        .groupBy(col("partition")).agg(count(lit(1)).as("n_unique"))
    },

    // G3 stateful variant — the flatMapGroupsWithState offset gate itself
    // (streaming.OffsetGate) run over a fully-redelivered log: admits each
    // offset exactly once per partition, like the reference's forever-lived
    // max-offset map (S3SourceTask.java:198-207). Batch mode exercises the
    // within-invocation gate; CROSS-batch state persistence (the GroupState
    // checkpoint path) is covered by OffsetGateSpec's two-batch MemoryStream
    // test — batch execution cannot carry state between runs by definition.
    "cdc_offset_gate" -> { (s, dir) =>
      import s.implicits._
      val typed = changes(s, dir).select(
        col("partition"), col("offset"), col("op"), col("repo"), col("path"),
        md5(col("path")).as("commit"), lit("txt").as("lang"), col("content"))
        .as[graft.model.ChangeEvent]
      graft.streaming.OffsetGate.dedup(typed.unionAll(typed))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n_admitted"),
          min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"))
    },

    // F7 — offset-keyed file naming, format + parse roundtrip
    "cdc_filename_roundtrip" -> { (s, dir) =>
      changes(s, dir)
        .withColumn("file_first_offset", (col("offset") - pmod(col("offset"), lit(500L))))
        .groupBy(col("partition"), col("file_first_offset"))
        .agg(count(lit(1)).as("n"))
        .withColumn("filename",
          format_string("chg-%05d-%012d.gz", col("partition"), col("file_first_offset")))
        .withColumn("parsed_partition",
          regexp_extract(col("filename"), "chg-(\\d{5})-(\\d{12})\\.gz", 1).cast("int"))
        .withColumn("parsed_offset",
          regexp_extract(col("filename"), "chg-(\\d{5})-(\\d{12})\\.gz", 2).cast("long"))
    },

    // F8 — deterministic date prefix from event time (never wall clock)
    "cdc_date_prefix" -> { (s, dir) =>
      changes(s, dir)
        .withColumn("day_prefix", date_format(col("ts"), "yyyy-MM-dd"))
        .groupBy(col("day_prefix"), col("partition"))
        .agg(count(lit(1)).as("n"))
    },

    // F1 — text encode with trailing delimiter (key \t value \n)
    "cdc_text_encode" -> { (s, dir) =>
      changes(s, dir)
        .withColumn("encoded",
          concat(col("repo"), lit("/"), col("path"), lit("\t"),
            coalesce(col("content"), lit("")), lit("\n")))
        .select(col("offset"), octet_length(col("encoded")).as("n_bytes"),
          md5(col("encoded")).as("encoded_md5"))
    },

    // F2/F6 — text DECODE (DelimitedRecordReader port): concatenate each
    // chunk's records into one encoded buffer, decode it back with the
    // EOF-tolerant trailing-delimiter scan, and re-emit rows with
    // synthesized per-chunk ordinals (offset-synthesis F6,
    // RecordReader.java:34). The typed flatMap is the byte boundary the
    // codecs exist for (SURVEY §2.7); buffers are bounded by the chunk
    // threshold, so no task ever holds more than one chunk.
    "cdc_text_decode" -> { (s, dir) =>
      import s.implicits._
      val fmt = new graft.functions.RecordFormats.TrailingDelimiterFormat(
        "\n", Some("\t"))
      val chunked = Chunker.assignChunks(
        changes(s, dir).select("partition", "offset", "repo", "path", "content"),
        1000L)
      chunked
        .groupBy(col("partition"), col("chunk_id"))
        .agg(sort_array(collect_list(struct(
          col("offset"), col("repo"), col("path"), col("content")))).as("recs"))
        .select(col("partition"), col("chunk_id"), col("recs"))
        .as[(Int, Long, Seq[(Long, String, String, String)])]
        .flatMap { case (p, cid, recs) =>
          val buf = recs.toArray.flatMap { case (_, repo, path, content) =>
            val key = s"$repo/$path"
            val value = Option(content).getOrElse("")
            // the trailing-delimiter format (like the reference's) does not
            // escape; a delimiter inside a field would silently shift every
            // later record — fail loudly instead of corrupting the gate
            require(!key.contains('\t') && !key.contains('\n') &&
              !value.contains('\n'),
              s"record contains an unescapable delimiter: key=$key")
            fmt.encode(key, value)
          }
          fmt.decodeAll(buf).zipWithIndex.map { case ((key, value), i) =>
            (p, cid, i.toLong, key.getOrElse(""), value)
          }
        }
        .toDF("partition", "chunk_id", "ordinal", "rec_key", "rec_value")
    },

    // G2 — running totals per partition (every 100th offset sampled)
    "cdc_running_totals" -> { (s, dir) =>
      val w = Window.partitionBy(col("partition")).orderBy(col("offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      changes(s, dir)
        .withColumn("b", coalesce(octet_length(col("content")).cast("long"), lit(0L)) + 1L)
        .withColumn("run_bytes", sum(col("b")).over(w))
        .withColumn("run_records", count(lit(1)).over(w))
        .filter(pmod(col("offset"), lit(100L)) === 0)
        .select("partition", "offset", "run_bytes", "run_records")
    },

    // G3 — monotonicity audit: offsets must never regress in event-time order
    "cdc_monotonic_audit" -> { (s, dir) =>
      val w = Window.partitionBy(col("partition")).orderBy(col("ts"), col("offset"))
        .rowsBetween(Window.unboundedPreceding, -1)
      changes(s, dir)
        .withColumn("prev_max", max(col("offset")).over(w))
        .groupBy(col("partition"))
        .agg(sum(when(col("offset") < col("prev_max"), 1L).otherwise(0L)).as("violations"),
          count(lit(1)).as("n"))
    },

    // P4 — topic remap projection
    "cdc_topic_remap" -> { (s, dir) =>
      changes(s, dir)
        .withColumn("topic", concat(lit("backup."), col("event_type")))
        .groupBy(col("topic")).agg(count(lit(1)).as("n"))
    },

    // G5 — round-robin partition→task assignment
    "cdc_task_assignment" -> { (s, dir) =>
      changes(s, dir)
        .withColumn("task", pmod(col("partition"), lit(3)))
        .groupBy(col("task")).agg(
          count(lit(1)).as("n"),
          countDistinct(col("partition")).as("n_partitions"))
    },

    // Converter surface — the Connect JSON converter analogue
    // (Configure.java:37-66 delegates schema-ful data to JSON converters):
    // records serialized with to_json, shipped as a JSON-lines file, read
    // back through the schema'd json source, and checksummed per partition
    "cdc_json_roundtrip" -> { (s, dir) =>
      val c = changes(s, dir).select("partition", "offset", "op", "repo", "path", "content")
      // partitioned jsonl staging (one file per task, read back as a
      // directory) — the operator pattern, not a coalesce(1) driver funnel;
      // pid-scoped dir is reclaimed on the next invocation
      val stage = Staging.dir(s, "jsonl") + "/events.jsonl"
      c.select(to_json(struct(c.columns.map(col).toIndexedSeq: _*)).as("value"))
        .write.mode("overwrite").text(stage)
      val parsed = s.read.schema(c.schema).json(stage)
      // order-insensitive exact checksum: md5-derived terms reduced mod 2^31
      // so the sum stays BIGINT on both engines (a DECIMAL output would hit
      // reader-representation drift in the driver's hash)
      parsed.groupBy(col("partition")).agg(
        count(lit(1)).as("n"),
        sum(md5SumTerm(concat_ws("|",
          col("offset"), col("op"), col("repo"), col("path"),
          coalesce(col("content"), lit("∅"))))).as("row_sum"))
    },

    // S2-S5/K1-K3 container interop — the reference's ACTUAL on-disk archive
    // format: block-gzip data files (concatenated gzip members) + chunk
    // index JSON, written chunk-rolled per partition, then read back
    // CHUNK-PARALLEL (each task decompresses one member's byte range).
    // Checksums of the decoded lines are cross-checked against DuckDB over
    // the same synthesized records. The archive builds ONCE per JVM
    // (marker-gated shared staging), so a timed run of this query measures
    // the chunk-parallel READ; the build cost is reported separately
    // (Bench's cdc_gz_archive_write).
    "cdc_gz_archive_read" -> { (s, dir) =>
      graft.sources.GzArchive.read(s, sharedArchive(s, dir))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n"),
          min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"),
          sum(md5SumTerm(col("value"))).as("line_sum"))
    },

    // S4 ranged resume through the chunk index: whole members at or below
    // the committed offset are pruned from the index alone (never opened);
    // the boundary member filters after decode — the ranged-GET resume of
    // S3FilesReader.java:215-261 as a distributed read
    "cdc_gz_archive_resume" -> { (s, dir) =>
      val committed = Map(0 -> 100L, 1 -> 150L, 2 -> 200L, 3 -> 250L)
      graft.sources.GzArchive.readFrom(s, sharedArchive(s, dir), committed)
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n"), min(col("offset")).as("first_replayed"),
          sum(md5SumTerm(col("value"))).as("line_sum"))
    },

    // S2/S6/K4 connector-bucket interop end to end: a DATE-PREFIXED archive
    // (the real bucket layout, S3Writer.java:129-136; prefix passed
    // deterministically, never wall clock) with per-partition CURSOR files
    // (last_chunk_index.{topic}-{p:05d}.txt, S3Writer.java:138-153), plus
    // one deliberately ORPHANED file beyond partition 0's cursor — a
    // crashed writer's upload that never got acknowledged. The cursor-
    // trusted read must return exactly the acknowledged records (orphan
    // excluded, "readers only trust the cursor"), and the cursor-derived
    // next WRITE offset (S3Writer.fetchOffset, :83-127) must equal the
    // acknowledged per-partition count.
    "cdc_gz_archive_cursor" -> { (s, dir) =>
      val (root, ready) = Staging.cached(s, "gzarch-cursor-" + dirTag(dir))
      if (!ready) {
        graft.sources.GzArchive.writeArchive(archiveLines(s, dir), root,
          "changes", "offset", chunkThreshold = 4096, recordsPerFile = 5000,
          datePrefix = "2024-06-01")
        // the orphan: data+index land under a later date prefix, cursor
        // never moves (crash between upload and cursor write)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val w = new graft.sources.GzArchive.BlockGzWriter(fs,
          new org.apache.hadoop.fs.Path(root, "2024-06-02"), "changes-00000",
          firstRecordOffset = 900000L, chunkThreshold = 4096)
        (0 until 7).foreach(i => w.write(s"orphan $i\n".getBytes("UTF-8")))
        w.close()
        Staging.markReady(s, root)
      }
      val agg = graft.sources.GzArchive.readCommitted(s, root, "changes")
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n"),
          min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"),
          sum(md5SumTerm(col("value"))).as("line_sum"))
      val next = s.createDataFrame(
        graft.sources.GzArchive.fetchOffsets(s, root, "changes").toSeq)
        .toDF("partition", "next_offset")
      agg.join(broadcast(next), Seq("partition"))
    },

    // S1/S2 topic-SET interop — ONE bucket holding TWO topics' file
    // families (the reference's source reads topic sets per task,
    // S3SourceTask.java:82-94, with a topic filter in the listing,
    // S3FilesReader.java:82-105): the change log splits by op into
    // `upserts`/`deletes` topics, archived in one writeArchiveTopics job
    // (per-(topic,partition) dense offsets, per-(topic,partition) cursors),
    // then read back with the topic-set cursor-trusted read — each record
    // carrying its topic, checksummed per (topic, partition).
    "cdc_gz_archive_multitopic" -> { (s, dir) =>
      graft.sources.GzArchive.readCommittedTopics(s, sharedMultiTopicArchive(s, dir))
        .groupBy(col("topic"), col("partition"))
        .agg(count(lit(1)).as("n"),
          min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"),
          sum(md5SumTerm(col("value"))).as("line_sum"))
    },

    // S1b × source config — the reference's `targetTopic.{orig}` per-topic
    // output remap (S3SourceTask.java:40,223-225; README.md:176) composed
    // over the multi-topic cursor-trusted read: the `deletes` family lands
    // under its TARGET name `tombstones`, `upserts` (no config entry)
    // passes through — proving the config shape drives the rename and
    // unmapped topics are untouched
    "cdc_gz_archive_remap" -> { (s, dir) =>
      graft.sources.GzArchive.readCommittedTopics(
          s, sharedMultiTopicArchive(s, dir), Set.empty,
          Map("targetTopic.deletes" -> "tombstones"))
        .groupBy(col("topic"), col("partition"))
        .agg(count(lit(1)).as("n"),
          min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"),
          sum(md5SumTerm(col("value"))).as("line_sum"))
    },

    // F3/F4 × S2-S5 — the BINARY container end to end: length-prefixed
    // records inside block-gzip chunks, the reference's `binary` format
    // (its binary system-test dump, system_test/run.py:331-373). The point
    // of the binary format: values keep ARBITRARY bytes — no delimiter
    // constraint — so content flows through unguarded.
    "cdc_gz_archive_binary" -> { (s, dir) =>
      val (root, ready) = Staging.cached(s, "gzarch-bin-" + dirTag(dir))
      if (!ready) {
        val recs = changes(s, dir).select(col("partition"), col("offset"),
          encode(concat(col("repo"), lit("/"), col("path")), "UTF-8").as("key"),
          encode(coalesce(col("content"), lit("")), "UTF-8").as("value"))
        graft.sources.GzArchive.writeArchiveBinary(recs, root, "changes",
          "offset", chunkThreshold = 4096, recordsPerFile = 5000)
        Staging.markReady(s, root)
      }
      graft.sources.GzArchive.readBinary(s, root)
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n"),
          min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"),
          sum(md5SumTerm(decode(col("key"), "UTF-8"))).as("key_sum"),
          sum(md5SumTerm(decode(col("value"), "UTF-8"))).as("value_sum"))
    },

    // F3/F4 — length-prefixed binary framing roundtrip: big-endian int4
    // length before key and value bytes (ByteLengthFormat port), built and
    // re-parsed entirely inside codegen'd expressions over a hex transcript
    // so the framing bytes are engine-checkable
    "cdc_binary_roundtrip" -> { (s, dir) =>
      changes(s, dir)
        .withColumn("k", concat(col("repo"), lit("/"), col("path")))
        .withColumn("val", coalesce(col("content"), lit("")))
        .withColumn("klen", octet_length(col("k")).cast("long"))
        .withColumn("vlen", octet_length(col("val")).cast("long"))
        .withColumn("frame_hex", concat(
          format_string("%08x", col("klen")), lower(hex(col("k"))),
          format_string("%08x", col("vlen")), lower(hex(col("val")))))
        // decode side: read the 4-byte length back, slice the key out
        .withColumn("parsed_klen",
          conv(substring(col("frame_hex"), 1, 8), 16, 10).cast("long"))
        .withColumn("parsed_key",
          decode(unhex(expr("substring(frame_hex, 9, int(parsed_klen) * 2)")), "UTF-8"))
        .select(col("offset"),
          (col("klen") + col("vlen") + 8L).as("n_bytes"),
          md5(col("frame_hex")).as("frame_md5"),
          (col("parsed_klen") === col("klen") && col("parsed_key") === col("k"))
            .cast("int").as("roundtrip_ok"))
    },

    // F9 — tag/config string parsing (`k1:v1,...` → map; here the props
    // payload parsed to a typed value via str_to_map semantics).
    // CONTRACT: the regex strip-and-swap assumes the generator's props shape
    // `{"k": <int>}` (single integer key, no nested/quoted values) — the
    // oracle uses real json_extract, so a richer props shape would diverge
    // here first, by design (it flags the contract break).
    "cdc_props_parse" -> { (s, dir) =>
      changes(s, dir)
        .withColumn("kv",
          regexp_replace(regexp_replace(col("content"), "[{}\"\\s]", ""), ":", "="))
        .withColumn("k_value",
          element_at(str_to_map(col("kv"), lit(","), lit("=")), "k").cast("long"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n"),
          min(col("k_value")).as("min_k"), max(col("k_value")).as("max_k"),
          sum(col("k_value")).as("sum_k"))
    })

  private def duck(body: String): String = duckChanges + "\n" + body

  val oracles: Map[String, String] = Map(
    "cdc_chunk_assign" -> duck(
      """, sized AS (
        |  SELECT partition, "offset", coalesce(octet_length(encode(content)), 0) + 1 AS b FROM changes
        |), cum AS (
        |  SELECT partition, "offset", b,
        |         sum(b) OVER (PARTITION BY partition ORDER BY "offset" ROWS UNBOUNDED PRECEDING) - b AS bytes_before
        |  FROM sized
        |), chunks AS (
        |  SELECT partition, CAST(floor(bytes_before / 1000) AS BIGINT) AS chunk_id,
        |         min("offset") AS first_record_offset,
        |         count(*) AS num_records,
        |         CAST(sum(b) AS BIGINT) AS byte_length_uncompressed
        |  FROM cum GROUP BY 1, 2
        |)
        |SELECT partition, chunk_id, first_record_offset, num_records,
        |       CAST(sum(byte_length_uncompressed) OVER (PARTITION BY partition ORDER BY chunk_id ROWS UNBOUNDED PRECEDING) - byte_length_uncompressed AS BIGINT) AS byte_offset,
        |       byte_length_uncompressed
        |FROM chunks""".stripMargin),

    "cdc_offset_recovery" -> duck(
      """SELECT partition, max("offset") + 1 AS next_offset, count(*) AS n_events
        |FROM changes GROUP BY 1""".stripMargin),

    "cdc_partition_filter" -> duck(
      """SELECT partition, op, count(*) AS n, min("offset") AS min_offset, max("offset") AS max_offset
        |FROM changes WHERE partition IN (0, 2) GROUP BY 1, 2""".stripMargin),

    "cdc_offset_skip" -> duck(
      """, committed(partition, committed) AS (VALUES (0, 100), (1, 150), (2, 200), (3, 250))
        |SELECT c.partition, count(*) AS n, min(c.offset) AS first_replayed
        |FROM changes c JOIN committed m ON c.partition = m.partition
        |WHERE c.offset > m.committed
        |GROUP BY 1""".stripMargin),

    "cdc_lww_state" -> duck(
      """SELECT repo, path, partition, "offset" AS last_offset, content, md5(content) AS content_md5
        |FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY "offset" DESC) AS rn
        |      FROM changes) t
        |WHERE rn = 1 AND op = 'upsert'""".stripMargin),

    "cdc_dedup_redelivery" -> duck(
      """SELECT partition, count(*) AS n_unique
        |FROM (SELECT DISTINCT partition, "offset"
        |      FROM (SELECT partition, "offset" FROM changes
        |            UNION ALL SELECT partition, "offset" FROM changes) u) d
        |GROUP BY 1""".stripMargin),

    "cdc_offset_gate" -> duck(
      """SELECT partition, count(DISTINCT "offset") AS n_admitted,
        |       min("offset") AS min_offset, max("offset") AS max_offset
        |FROM changes GROUP BY 1""".stripMargin),

    "cdc_filename_roundtrip" -> duck(
      """, g AS (
        |  SELECT partition, "offset" - ("offset" % 500) AS file_first_offset, count(*) AS n
        |  FROM changes GROUP BY 1, 2
        |)
        |SELECT partition, file_first_offset, n,
        |       printf('chg-%05d-%012d.gz', partition, file_first_offset) AS filename,
        |       CAST(regexp_extract(printf('chg-%05d-%012d.gz', partition, file_first_offset), 'chg-(\d{5})-(\d{12})\.gz', 1) AS INT) AS parsed_partition,
        |       CAST(regexp_extract(printf('chg-%05d-%012d.gz', partition, file_first_offset), 'chg-(\d{5})-(\d{12})\.gz', 2) AS BIGINT) AS parsed_offset
        |FROM g""".stripMargin),

    "cdc_date_prefix" -> duck(
      """SELECT strftime(ts, '%Y-%m-%d') AS day_prefix, partition, count(*) AS n
        |FROM changes GROUP BY 1, 2""".stripMargin),

    "cdc_text_encode" -> duck(
      """SELECT "offset",
        |       octet_length(encode(repo || '/' || path || chr(9) || coalesce(content, '') || chr(10))) AS n_bytes,
        |       md5(repo || '/' || path || chr(9) || coalesce(content, '') || chr(10)) AS encoded_md5
        |FROM changes""".stripMargin),

    "cdc_text_decode" -> duck(
      """, sized AS (
        |  SELECT partition, "offset", repo, path, content,
        |         coalesce(octet_length(encode(content)), 0) + 1 AS b FROM changes
        |), cum AS (
        |  SELECT *, sum(b) OVER (PARTITION BY partition ORDER BY "offset" ROWS UNBOUNDED PRECEDING) - b AS bytes_before
        |  FROM sized
        |), ch AS (
        |  SELECT partition, "offset", repo, path, content,
        |         CAST(floor(bytes_before / 1000) AS BIGINT) AS chunk_id
        |  FROM cum
        |)
        |SELECT partition, chunk_id,
        |       CAST(row_number() OVER (PARTITION BY partition, chunk_id ORDER BY "offset") - 1 AS BIGINT) AS ordinal,
        |       repo || '/' || path AS rec_key,
        |       coalesce(content, '') AS rec_value
        |FROM ch""".stripMargin),

    "cdc_running_totals" -> duck(
      """, sized AS (
        |  SELECT partition, "offset", coalesce(octet_length(encode(content)), 0) + 1 AS b FROM changes
        |)
        |SELECT partition, "offset",
        |       CAST(sum(b) OVER (PARTITION BY partition ORDER BY "offset" ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_bytes,
        |       CAST(count(*) OVER (PARTITION BY partition ORDER BY "offset" ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_records
        |FROM sized QUALIFY "offset" % 100 = 0""".stripMargin),

    "cdc_monotonic_audit" -> duck(
      """, m AS (
        |  SELECT partition, "offset",
        |         max("offset") OVER (PARTITION BY partition ORDER BY ts, "offset"
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM changes
        |)
        |SELECT partition,
        |       CAST(sum(CASE WHEN "offset" < prev_max THEN 1 ELSE 0 END) AS BIGINT) AS violations,
        |       count(*) AS n
        |FROM m GROUP BY 1""".stripMargin),

    "cdc_topic_remap" -> duck(
      """SELECT 'backup.' || event_type AS topic, count(*) AS n FROM changes GROUP BY 1""".stripMargin),

    "cdc_task_assignment" -> duck(
      """SELECT partition % 3 AS task, count(*) AS n, count(DISTINCT partition) AS n_partitions
        |FROM changes GROUP BY 1""".stripMargin),

    "cdc_json_roundtrip" -> duck(
      s"""SELECT partition, count(*) AS n,
        |       CAST(sum(${duckMd5SumTerm("""CAST("offset" AS VARCHAR) || '|' || op || '|' || repo || '|' || path || '|' || coalesce(content, '∅')""")}) AS BIGINT) AS row_sum
        |FROM changes GROUP BY 1""".stripMargin),

    "cdc_gz_archive_read" -> duck(
      s"""SELECT partition, count(*) AS n,
        |       CAST(0 AS BIGINT) AS min_offset,
        |       count(*) - 1 AS max_offset,
        |       CAST(sum(${duckMd5SumTerm("repo || '/' || path || chr(9) || coalesce(content, '')")}) AS BIGINT) AS line_sum
        |FROM changes GROUP BY 1""".stripMargin),

    // cursor gate: the orphan is invisible (only cursor-acknowledged files
    // count), so the oracle is the full per-partition roll-up; the cursor's
    // next-offset arithmetic (last chunk first+num) equals the count because
    // archive offsets are dense from 0
    "cdc_gz_archive_cursor" -> duck(
      s"""SELECT partition, count(*) AS n,
        |       CAST(0 AS BIGINT) AS min_offset,
        |       count(*) - 1 AS max_offset,
        |       CAST(sum(${duckMd5SumTerm("repo || '/' || path || chr(9) || coalesce(content, '')")}) AS BIGINT) AS line_sum,
        |       count(*) AS next_offset
        |FROM changes GROUP BY 1""".stripMargin),

    // two-topic bucket: archive offsets dense from 0 per (topic, partition)
    // — ordered by the change-log offset within each topic — so min is 0 and
    // max is the per-group count minus one
    "cdc_gz_archive_multitopic" -> duck(
      s"""SELECT CASE WHEN op = 'delete' THEN 'deletes' ELSE 'upserts' END AS topic,
        |       partition, count(*) AS n,
        |       CAST(0 AS BIGINT) AS min_offset,
        |       count(*) - 1 AS max_offset,
        |       CAST(sum(${duckMd5SumTerm("repo || '/' || path || chr(9) || coalesce(content, '')")}) AS BIGINT) AS line_sum
        |FROM changes GROUP BY 1, 2""".stripMargin),

    // same bucket through the targetTopic.{orig} remap: `deletes` emitted
    // under its configured target name, `upserts` (unmapped) unchanged
    "cdc_gz_archive_remap" -> duck(
      s"""SELECT CASE WHEN op = 'delete' THEN 'tombstones' ELSE 'upserts' END AS topic,
        |       partition, count(*) AS n,
        |       CAST(0 AS BIGINT) AS min_offset,
        |       count(*) - 1 AS max_offset,
        |       CAST(sum(${duckMd5SumTerm("repo || '/' || path || chr(9) || coalesce(content, '')")}) AS BIGINT) AS line_sum
        |FROM changes GROUP BY 1, 2""".stripMargin),

    // binary container: archive offsets dense from 0 per partition; key =
    // repo/path, value = content, both checksummed independently
    "cdc_gz_archive_binary" -> duck(
      s"""SELECT partition, count(*) AS n,
        |       CAST(0 AS BIGINT) AS min_offset,
        |       count(*) - 1 AS max_offset,
        |       CAST(sum(${duckMd5SumTerm("repo || '/' || path")}) AS BIGINT) AS key_sum,
        |       CAST(sum(${duckMd5SumTerm("coalesce(content, '')")}) AS BIGINT) AS value_sum
        |FROM changes GROUP BY 1""".stripMargin),

    "cdc_gz_archive_resume" -> duck(
      s""", arch AS (
        |  SELECT partition,
        |         row_number() OVER (PARTITION BY partition ORDER BY "offset") - 1 AS aoff,
        |         repo || '/' || path || chr(9) || coalesce(content, '') AS line
        |  FROM changes
        |), committed(partition, committed) AS (VALUES (0, 100), (1, 150), (2, 200), (3, 250))
        |SELECT a.partition, count(*) AS n, min(aoff) AS first_replayed,
        |       CAST(sum(${duckMd5SumTerm("line")}) AS BIGINT) AS line_sum
        |FROM arch a JOIN committed m ON a.partition = m.partition
        |WHERE aoff > m.committed
        |GROUP BY 1""".stripMargin),

    "cdc_binary_roundtrip" -> duck(
      """, framed AS (
        |  SELECT "offset",
        |         repo || '/' || path AS k,
        |         coalesce(content, '') AS val,
        |         CAST(octet_length(encode(repo || '/' || path)) AS BIGINT) AS klen,
        |         CAST(octet_length(encode(coalesce(content, ''))) AS BIGINT) AS vlen
        |  FROM changes
        |), built AS (
        |  SELECT "offset", k, klen, vlen,
        |         printf('%08x', klen) || lower(hex(k)) || printf('%08x', vlen) || lower(hex(val)) AS frame_hex
        |  FROM framed
        |)
        |SELECT "offset", klen + vlen + 8 AS n_bytes, md5(frame_hex) AS frame_md5,
        |       CAST(('0x' || substr(frame_hex, 1, 8))::BIGINT = klen
        |            AND decode(unhex(substr(frame_hex, 9, CAST(klen * 2 AS INT)))) = k AS INT) AS roundtrip_ok
        |FROM built""".stripMargin),

    "cdc_props_parse" -> duck(
      """SELECT partition, count(*) AS n,
        |       min(CAST(json_extract(content, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract(content, '$.k') AS BIGINT)) AS max_k,
        |       CAST(sum(CAST(json_extract(content, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM changes GROUP BY 1""".stripMargin)
  )
}
