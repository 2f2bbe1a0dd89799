package graft.queries

import graft.pipeline.CdcPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end engine queries: these run the actual CDC pipeline (journal
  * append + lake MERGE + restart/replay) against the portable change log and
  * return the final lake state — which the driver then cross-checks against
  * the independent DuckDB last-writer-wins oracle. This is the strongest
  * check in the suite: the whole exactly-once machine vs an engine that
  * shares none of its code.
  */
object EngineQueries {

  private def workDir(s: SparkSession, tag: String): String =
    Staging.dir(s, s"e2e-$tag")

  /** shape the final lake state for comparison */
  private def finalState(lake: graft.lake.LakeTable): DataFrame =
    lake.read().select(col("repo"), col("path"), col("partition"),
      col("offset").as("last_offset"), col("content"),
      md5(col("content")).as("content_md5"))

  // the ONE LWW oracle — shared with cdc_lww_state so the two can't drift
  private val duckFinalState: String = CdcQueries.oracles("cdc_lww_state")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // full pipeline, 8 micro-batches, clean run
    "eng_cdc_merge" -> { (s, dir) =>
      val root = workDir(s, "merge")
      val p = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8)
      p.runBatches(CdcQueries.changes(s, dir)
        .select("partition", "offset", "op", "repo", "path", "content"), 8)
      finalState(p.lake)
    },

    // same, but killed after batch 3 and restarted from scratch (fenced
    // replay of batches 0-3, live batches 4-7): exactly-once through the gate
    "eng_cdc_restart" -> { (s, dir) =>
      val root = workDir(s, "restart")
      val changes = CdcQueries.changes(s, dir)
        .select("partition", "offset", "op", "repo", "path", "content")
      val p1 = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8)
      p1.runBatches(changes, 8, crashAfter = Some(3L)) // "crash"
      val p2 = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8)               // cold restart
      p2.runBatches(changes, 8)                          // replays 0..3, applies 4..7
      finalState(p2.lake)
    },

    // journal write → resume-read round trip: per-partition content checksum
    // (order-insensitive exact sum of md5-derived ints) after a 4-batch append
    "eng_journal_roundtrip" -> { (s, dir) =>
      val root = workDir(s, "journal")
      val p = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8, journalEnabled = true)
      val changes = CdcQueries.changes(s, dir)
        .select("partition", "offset", "op", "repo", "path", "content")
      p.runBatches(changes, 4)
      // md5-derived terms reduced mod 2^31 before the sum, so the checksum
      // stays BIGINT on both engines (DECIMAL outputs hit reader-
      // representation drift in the driver's value hash)
      p.journal.read()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n"),
          min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"),
          sum(CdcQueries.md5SumTerm(coalesce(col("content"), lit("∅")))).as("content_sum"))
    },

    // journal retention end-to-end: 3 appends tiling the offset space in
    // thirds, then truncate at the half-way watermark — whole files at or
    // below it drop, the straddling file is kept whole. DuckDB recomputes
    // the identical file-boundary arithmetic from the batch split, so the
    // surviving row multiset is checked exactly.
    "eng_journal_truncate" -> { (s, dir) =>
      val root = workDir(s, "truncate")
      val changes = CdcQueries.changes(s, dir)
        .select("partition", "offset", "op", "repo", "path", "content")
      val j = new graft.lake.ChangeJournal(s"$root/journal", s, 8192)
      val maxOff = changes.agg(max(col("offset"))).collect()(0).getLong(0)
      val (c1, c2, wm) = (maxOff / 3, 2 * maxOff / 3, maxOff / 2)
      j.append(changes.filter(col("offset") < c1), 0L)
      j.append(changes.filter(col("offset") >= c1 && col("offset") < c2), 1L)
      j.append(changes.filter(col("offset") >= c2), 2L)
      j.truncate((0 to 3).map(_ -> wm).toMap)
      j.read().groupBy(col("partition"))
        .agg(count(lit(1)).as("n"),
          min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"),
          sum(CdcQueries.md5SumTerm(coalesce(col("content"), lit("∅")))).as("content_sum"))
    },

    // mid-stream resume: committed offsets inside the journal ⇒ replay
    // returns exactly the suffix (port of S3FilesReaderTest offset resume)
    "eng_journal_resume" -> { (s, dir) =>
      val root = workDir(s, "resume")
      val p = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8)
      val changes = CdcQueries.changes(s, dir)
        .select("partition", "offset", "op", "repo", "path", "content")
      p.runBatches(changes, 4)
      val committed = Map(0 -> 100L, 1 -> 150L, 2 -> 200L, 3 -> 250L)
      p.journal.readFrom(committed)
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n"), min(col("offset")).as("first_replayed"))
    },

    // schema evolution through the whole MERGE machine: batch 0 carries the
    // base payload + an int `score`; batch 1 adds a `lang` column and widens
    // `score` to long. Final state must show old rows under the evolved
    // schema (null lang, widened score) with no file rewrites on evolution —
    // the north rule's "Catalyst-driven schema evolution" end to end.
    "eng_schema_evolution" -> { (s, dir) =>
      val root = workDir(s, "schevo")
      val c = CdcQueries.changes(s, dir)
      val b = c.groupBy().agg(min(col("offset")).as("lo"), max(col("offset")).as("hi"))
        .collect()(0)
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val base = c.select("partition", "offset", "op", "repo", "path", "content")
      val phaseA = base.filter(col("offset") <= mid)
        .withColumn("score", pmod(col("offset"), lit(100L)).cast("int"))
      val phaseB = base.filter(col("offset") > mid)
        .withColumn("score", col("offset") * 1000L)
        .withColumn("lang", concat(lit("l"), pmod(col("offset"), lit(5L)).cast("string")))
      val p = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8, journalEnabled = false)
      p.applyBatch(phaseA, 0L)
      p.applyBatch(phaseB, 1L)
      p.lake.read().select(col("repo"), col("path"), col("offset").as("last_offset"),
        col("content"), col("score"), col("lang"), md5(col("content")).as("content_md5"))
    },

    // schema evolution INCLUDING soft column drop: add+widen (phases A/B as
    // eng_schema_evolution), then dropColumn("score") between batches, then
    // a phase C whose tail STILL SENDS the dropped column (the realistic
    // CDC shape) plus a genuinely new column — merge must ignore the former
    // and add the latter, reads must project score away while every row
    // (old files included) stays readable
    "eng_schema_drop" -> { (s, dir) =>
      val root = workDir(s, "schdrop")
      val c = CdcQueries.changes(s, dir)
      val b = c.groupBy().agg(min(col("offset")).as("lo"), max(col("offset")).as("hi"))
        .collect()(0)
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val base = c.select("partition", "offset", "op", "repo", "path", "content")
      val phaseA = base.filter(col("offset") <= t1)
        .withColumn("score", pmod(col("offset"), lit(100L)).cast("int"))
      val phaseB = base.filter(col("offset") > t1 && col("offset") <= t2)
        .withColumn("score", col("offset") * 1000L)
        .withColumn("lang", concat(lit("l"), pmod(col("offset"), lit(5L)).cast("string")))
      val phaseC = base.filter(col("offset") > t2)
        .withColumn("score", col("offset") * 7L) // still sent; must stay dropped
        .withColumn("lang", concat(lit("l"), pmod(col("offset"), lit(5L)).cast("string")))
        .withColumn("note", concat(lit("n"), pmod(col("offset"), lit(3L)).cast("string")))
      val p = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8, journalEnabled = false)
      p.applyBatch(phaseA, 0L)
      p.applyBatch(phaseB, 1L)
      p.lake.dropColumn("score")
      p.applyBatch(phaseC, 2L)
      require(!p.lake.currentSchema.get.fieldNames.contains("score"),
        "dropped column must not re-enter the schema from the tail")
      p.lake.read().select(col("repo"), col("path"), col("offset").as("last_offset"),
        col("content"), col("lang"), col("note"), md5(col("content")).as("content_md5"))
    },

    // the actual Structured Streaming path: change log shipped as ordered
    // slice files, tailed by the file source (AvailableNow), ingested via
    // checkpointed foreachBatch — final lake state vs the DuckDB LWW oracle
    "eng_streaming_ingest" -> { (s, dir) =>
      val root = workDir(s, "streaming")
      val changes = CdcQueries.changes(s, dir)
        .select("partition", "offset", "op", "repo", "path", "content")
      val b = changes.groupBy().agg(min(col("offset")).as("lo"), max(col("offset")).as("hi"))
        .collect()(0)
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val span = math.max(1L, (hi - lo + 4) / 4)
      // binlog shipper: offset-ordered slice files. FileStreamSource orders
      // by mtime with arbitrary tie-break, so stamp strictly increasing
      // mtimes explicitly — slices written within the fs timestamp
      // granularity must still arrive in offset order.
      val srcPath = new org.apache.hadoop.fs.Path(s"$root/src")
      val fsys = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val stamped = scala.collection.mutable.Set[String]()
      var base = 0L
      (0 until 4).foreach { i =>
        changes.filter(col("offset") >= lo + i * span && col("offset") < lo + (i + 1) * span)
          .coalesce(1).write.mode("append").parquet(s"$root/src")
        fsys.listStatus(srcPath).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("part-") && !stamped.contains(n)) {
            if (base == 0L) base = st.getModificationTime
            // whole-second spacing: filesystems that truncate mtimes to 1s
            // resolution (HFS+, some NFS/overlay mounts) would collapse
            // millisecond offsets back into the tie this stamping exists
            // to break
            fsys.setTimes(st.getPath, base + i * 1000L, -1)
            stamped += n
          }
        }
      }
      val p = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8)
      p.stream(s"$root/src", s"$root/ckpt", changes.schema, maxFilesPerTrigger = 2)
        .awaitTermination()
      finalState(p.lake)
    },

    // the ported partition-expansion system test
    // (/root/reference/system_test/run.py:259-329): the topic starts with
    // ONE active partition and grows mid-stream — partitions 1-3 first
    // appear in the later batches. The watermark map, journal manifest
    // partitions object and lake layout must all gain keys mid-stream, and
    // the final state must still equal the LWW oracle over the same
    // (expansion-filtered) log.
    "eng_partition_expand" -> { (s, dir) =>
      val root = workDir(s, "partexpand")
      val c = CdcQueries.changes(s, dir)
      val b = c.groupBy().agg(min(col("offset")).as("lo"), max(col("offset")).as("hi"))
        .collect()(0)
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val expanded = c.filter(col("partition") === 0 || col("offset") > mid)
        .select("partition", "offset", "op", "repo", "path", "content")
      val p = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8)
      p.runBatches(expanded, 4)
      finalState(p.lake)
    },

    // THE MIGRATION PATH: backfill an existing connector archive into the
    // lake. Records are laid down in the reference's actual block-gzip
    // container (text-framed lines), read back chunk-parallel, decoded, and
    // merged through the full exactly-once pipeline — the first task a real
    // user of the connector has when switching to this engine. Offsets
    // become archive offsets (per-partition consecutive, like Kafka's);
    // order within a partition is preserved, so LWW winners are identical.
    "eng_archive_backfill" -> { (s, dir) =>
      val root = workDir(s, "backfill")
      val c = CdcQueries.changes(s, dir)
      // text framing: op \t repo \t path \t content, null content as ∅.
      // Newlines cannot ride a line-framed container (the writer refuses
      // them); tabs in content are safe because the decode splits with
      // limit 4, so only the first three delimiters are structural.
      val lines = c.select(col("partition"), col("offset"),
        concat_ws("\t", col("op"), col("repo"), col("path"),
          coalesce(col("content"), lit("∅"))).as("line"))
      // the full connector bucket layout: date-prefixed keys + cursor files,
      // then the cursor-TRUSTED read (only acknowledged files), exactly what
      // pointing the engine at a migrating user's real bucket does
      graft.sources.GzArchive.writeArchive(lines, s"$root/archive", "changes",
        "offset", chunkThreshold = 8192, recordsPerFile = 5000,
        datePrefix = "2024-06-01")
      val arch = graft.sources.GzArchive.readCommitted(s, s"$root/archive", "changes")
      val f = split(col("value"), "\t", 4) // limit: tabs in content stay intact
      val decoded = arch.select(
        col("partition"), col("offset"),
        element_at(f, 1).as("op"),
        element_at(f, 2).as("repo"),
        element_at(f, 3).as("path"),
        when(element_at(f, 4) === "∅", lit(null: String))
          .otherwise(element_at(f, 4)).as("content"))
      val p = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8, journalEnabled = false)
      p.runBatches(decoded, 4)
      finalState(p.lake)
    },

    // per-partition lineage metrics (the north star's audit trail), checked
    // as data: the lineage rows the lake accumulates across batches must
    // roll up to exactly the per-partition stats of the raw change log
    "eng_lineage_metrics" -> { (s, dir) =>
      val root = workDir(s, "lineage")
      val p = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8, journalEnabled = false)
      p.runBatches(CdcQueries.changes(s, dir)
        .select("partition", "offset", "op", "repo", "path", "content"), 4)
      p.lake.lineage()
        .groupBy(col("partition"))
        .agg(sum(col("numEvents")).as("events"),
          sum(col("numUpserts")).as("upserts"),
          sum(col("numDeletes")).as("deletes"),
          max(col("lastOffset")).as("high_water"),
          min(col("firstOffset")).as("first_offset"),
          countDistinct(col("batchId")).as("n_batches"))
    },

    // table maintenance preserves state: merge in 4 batches, re-bucket the
    // table (compact 8 -> 16), GC history (vacuum to the current snapshot) —
    // the final state must still equal the LWW oracle bit for bit
    "eng_compact_vacuum" -> { (s, dir) =>
      val root = workDir(s, "compactvac")
      val p = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8, journalEnabled = false)
      p.runBatches(CdcQueries.changes(s, dir)
        .select("partition", "offset", "op", "repo", "path", "content"), 4)
      p.lake.compact(16)
      p.lake.vacuum(keepLast = 1)
      finalState(p.lake)
    },

    // snapshot time travel: two batches committed, then read AS OF the first
    // snapshot — must equal the LWW state over the first batch's offsets only
    "eng_time_travel" -> { (s, dir) =>
      val root = workDir(s, "timetravel")
      val c = CdcQueries.changes(s, dir)
      val b = c.groupBy().agg(min(col("offset")).as("lo"), max(col("offset")).as("hi"))
        .collect()(0)
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val base = c.select("partition", "offset", "op", "repo", "path", "content")
      val p = new CdcPipeline(s, s"$root/journal", s"$root/lake",
        chunkBytes = 8192, subBuckets = 8, journalEnabled = false)
      p.applyBatch(base.filter(col("offset") <= mid), 0L)
      p.applyBatch(base.filter(col("offset") > mid), 1L)
      p.lake.readVersion(0L).select(col("repo"), col("path"),
        col("offset").as("last_offset"), md5(col("content")).as("content_md5"))
    },

    )

  val oracles: Map[String, String] = Map(
    "eng_cdc_merge" -> duckFinalState,
    "eng_cdc_restart" -> duckFinalState,
    "eng_streaming_ingest" -> duckFinalState,
    "eng_compact_vacuum" -> duckFinalState,

    // n_batches derives from the same offset-range tiling runBatches uses
    // (span = ceil((hi-lo+1)/4)) rather than assuming every partition has
    // events in all 4 quartiles
    "eng_lineage_metrics" -> (CdcQueries.duckChanges +
      """, b AS (
        |  SELECT min("offset") AS lo,
        |         (max("offset") - min("offset") + 1 + 3) // 4 AS span
        |  FROM changes
        |)
        |SELECT partition,
        |       count(*) AS events,
        |       CAST(sum(CASE WHEN op = 'upsert' THEN 1 ELSE 0 END) AS BIGINT) AS upserts,
        |       CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS deletes,
        |       max("offset") AS high_water,
        |       min("offset") AS first_offset,
        |       CAST(count(DISTINCT ("offset" - b.lo) // greatest(b.span, 1)) AS BIGINT) AS n_batches
        |FROM changes, b GROUP BY 1""".stripMargin),

    "eng_time_travel" -> (CdcQueries.duckChanges +
      """, b AS (SELECT (min("offset") + max("offset")) // 2 AS mid FROM changes)
        |SELECT repo, path, last_offset, content_md5 FROM (
        |  SELECT repo, path, "offset" AS last_offset, md5(content) AS content_md5, op,
        |         row_number() OVER (PARTITION BY repo, path ORDER BY "offset" DESC) AS rn
        |  FROM changes, b WHERE "offset" <= b.mid) t
        |WHERE rn = 1 AND op = 'upsert'""".stripMargin),

    "eng_schema_evolution" -> (CdcQueries.duckChanges +
      """, b AS (SELECT (min("offset") + max("offset")) // 2 AS mid FROM changes),
        |lww AS (
        |  SELECT repo, path, "offset" AS last_offset, content, op,
        |         row_number() OVER (PARTITION BY repo, path ORDER BY "offset" DESC) AS rn
        |  FROM changes
        |)
        |SELECT repo, path, last_offset, content,
        |       CAST(CASE WHEN last_offset > b.mid THEN last_offset * 1000
        |                 ELSE last_offset % 100 END AS BIGINT) AS score,
        |       CASE WHEN last_offset > b.mid THEN 'l' || CAST(last_offset % 5 AS VARCHAR) END AS lang,
        |       md5(content) AS content_md5
        |FROM lww, b WHERE rn = 1 AND op = 'upsert'""".stripMargin),

    "eng_schema_drop" -> (CdcQueries.duckChanges +
      """, t AS (SELECT min("offset") + (max("offset") - min("offset")) // 3 AS t1,
        |            min("offset") + 2 * (max("offset") - min("offset")) // 3 AS t2
        |     FROM changes),
        |lww AS (
        |  SELECT repo, path, "offset" AS last_offset, content, op,
        |         row_number() OVER (PARTITION BY repo, path ORDER BY "offset" DESC) AS rn
        |  FROM changes
        |)
        |SELECT repo, path, last_offset, content,
        |       CASE WHEN last_offset > t.t1 THEN 'l' || CAST(last_offset % 5 AS VARCHAR) END AS lang,
        |       CASE WHEN last_offset > t.t2 THEN 'n' || CAST(last_offset % 3 AS VARCHAR) END AS note,
        |       md5(content) AS content_md5
        |FROM lww, t WHERE rn = 1 AND op = 'upsert'""".stripMargin),

    // archive offsets are row_number-1 per partition in event-offset order
    // (what writeArchive assigns); LWW by archive offset picks the same
    // winners because the mapping is order-preserving within each partition
    // and every key lives in exactly one partition
    "eng_archive_backfill" -> (CdcQueries.duckChanges +
      """, arch AS (
        |  SELECT partition,
        |         row_number() OVER (PARTITION BY partition ORDER BY "offset") - 1 AS aoff,
        |         op, repo, path, content
        |  FROM changes
        |)
        |SELECT repo, path, partition, aoff AS last_offset, content,
        |       md5(content) AS content_md5
        |FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY aoff DESC) AS rn
        |      FROM arch) t
        |WHERE rn = 1 AND op = 'upsert'""".stripMargin),

    "eng_partition_expand" -> (CdcQueries.duckChanges +
      """, b AS (SELECT (min("offset") + max("offset")) // 2 AS mid FROM changes),
        |f AS (SELECT c.* FROM changes c, b WHERE c.partition = 0 OR c."offset" > b.mid)
        |SELECT repo, path, partition, "offset" AS last_offset, content,
        |       md5(content) AS content_md5
        |FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY "offset" DESC) AS rn
        |      FROM f) t
        |WHERE rn = 1 AND op = 'upsert'""".stripMargin),

    "eng_journal_roundtrip" -> (CdcQueries.duckChanges +
      s"""
        |SELECT partition, count(*) AS n, min("offset") AS min_offset, max("offset") AS max_offset,
        |       CAST(sum(${CdcQueries.duckMd5SumTerm("coalesce(content, '∅')")}) AS BIGINT) AS content_sum
        |FROM changes GROUP BY 1""".stripMargin),

    "eng_journal_truncate" -> (CdcQueries.duckChanges +
      s""", mo AS (SELECT max("offset") AS m FROM changes),
        |b AS (
        |  SELECT c.*, CASE WHEN c."offset" < mo.m // 3 THEN 0
        |                   WHEN c."offset" < 2 * mo.m // 3 THEN 1
        |                   ELSE 2 END AS batch
        |  FROM changes c, mo
        |),
        |keptb AS (
        |  SELECT partition, batch FROM b, mo GROUP BY partition, batch, mo.m
        |  HAVING max(b."offset") > mo.m // 2
        |)
        |SELECT b.partition, count(*) AS n,
        |       min(b."offset") AS min_offset, max(b."offset") AS max_offset,
        |       CAST(sum(${CdcQueries.duckMd5SumTerm("coalesce(b.content, '∅')")}) AS BIGINT) AS content_sum
        |FROM b JOIN keptb ON b.partition = keptb.partition AND b.batch = keptb.batch
        |GROUP BY 1""".stripMargin),

    "eng_journal_resume" -> (CdcQueries.duckChanges +
      """, committed(partition, committed) AS (VALUES (0, 100), (1, 150), (2, 200), (3, 250))
        |SELECT c.partition, count(*) AS n, min(c."offset") AS first_replayed
        |FROM changes c JOIN committed m ON c.partition = m.partition
        |WHERE c."offset" > m.committed
        |GROUP BY 1""".stripMargin),

  )
}
