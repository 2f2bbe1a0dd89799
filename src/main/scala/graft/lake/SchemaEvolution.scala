package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Catalyst-driven schema evolution: merge an incoming batch schema into the
  * lake schema before MERGE (north-star requirement). Supported evolutions,
  * mirroring what a binlog/WAL tail needs in practice:
  *
  *   - column add (new columns become nullable in the lake schema)
  *   - type widen along the safe numeric ladder
  *     byte -> short -> int -> long, float -> double, and int/long -> double
  *
  * Anything else (narrowing, incompatible changes) fails fast — silent
  * coercion is how lakes rot.
  *
  * Both tables keep a LADDER: every schema version, oldest first, the last
  * one current. Each data file records the rung it was written under and is
  * read under it, then aligned to the last rung (Iceberg's rule) — so no
  * file is rewritten on evolution and no reader has to widen what parquet
  * cannot (an INT64 column read as double).
  *
  * The reference has no schema system at all (bytes in, bytes out —
  * common/.../AlreadyBytesConverter.java:20-33); this module is where the
  * Spark-native engine goes beyond it, using public StructType/Column APIs
  * only (SURVEY.md §4 "expected custom bits" (b)).
  */
object SchemaEvolution {

  private val widenRank: Map[DataType, Int] = Map(
    ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3,
    FloatType -> 10, DoubleType -> 11)

  /** Widest common type, or None if the pair is not safely mergeable. */
  def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case (x, y) if x == y => Some(x)
    case (x: NumericType, y: NumericType)
        if widenRank.contains(x) && widenRank.contains(y) =>
      // int-family × float-family meets at double (exact for int32, and the
      // standard lake choice for long; documented lossy > 2^53)
      val (rx, ry) = (widenRank(x), widenRank(y))
      if ((rx < 10) == (ry < 10)) Some(if (rx >= ry) x else y)
      else Some(DoubleType)
    case _ => None
  }

  /** Spark resolves column names case-insensitively by default, so schema
    * evolution must too: a binlog tail that starts spelling `lang` as `Lang`
    * is the SAME column, not a new one (exact-case matching would append a
    * duplicate that the next read rejects — or silently null the data).
    * True case conflicts within one schema fail fast.
    */
  private[lake] def keyOf(n: String): String = n.toLowerCase(java.util.Locale.ROOT)

  /** Column keys SOFT-DROPPED from the ladder: ever present in some schema
    * version but absent from the current one. Derivable from the ladder
    * alone — schema versions only ever gain columns through [[merge]]
    * (add/widen never removes), so any disappearance is an explicit
    * [[graft.lake.LakeTable.dropColumn]]. Incoming batches that still carry
    * a dropped column (a CDC tail usually keeps sending it) have it ignored
    * rather than re-added — resurrecting it with old files' values would
    * silently undo the drop.
    */
  def droppedKeys(ladder: Seq[StructType]): Set[String] = ladder.lastOption match {
    case None => Set.empty
    case Some(cur) =>
      val live = cur.fieldNames.map(keyOf).toSet
      ladder.iterator.flatMap(_.fieldNames).map(keyOf).toSet -- live
  }

  private def requireNoCaseConflicts(s: StructType, what: String): Unit = {
    val dup = s.fieldNames.groupBy(keyOf).collect { case (_, ns) if ns.length > 1 => ns.toSeq }
    require(dup.isEmpty, s"case-conflicting columns in $what schema: $dup")
  }

  /** Merge `incoming` into `current`: current column order first, appended
    * new columns after (stable order keeps old parquet readable and file
    * diffs reviewable). A current column the batch does NOT carry flips to
    * nullable — the batch demonstrably produces nulls there, and a
    * non-nullable lake schema over null-bearing files is a constraint
    * Catalyst would trust for wrong-answer filter simplification.
    */
  def merge(current: StructType, incoming: StructType): StructType = {
    requireNoCaseConflicts(current, "lake")
    requireNoCaseConflicts(incoming, "batch")
    val byName = incoming.fields.map(f => keyOf(f.name) -> f).toMap
    val mergedExisting = current.fields.map { f =>
      byName.get(keyOf(f.name)) match {
        case None => if (f.nullable) f else f.copy(nullable = true)
        case Some(in) =>
          val t = widen(f.dataType, in.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"incompatible schema change for column '${f.name}': " +
                s"${f.dataType.simpleString} vs ${in.dataType.simpleString}"))
          StructField(f.name, t, f.nullable || in.nullable)
      }
    }
    val curKeys = current.fieldNames.map(keyOf).toSet
    val added = incoming.fields.filterNot(f => curKeys.contains(keyOf(f.name)))
      .map(f => f.copy(nullable = true)) // new columns are absent in old rows
    StructType(mergedExisting ++ added)
  }

  /** A ladder from its JSON rungs, oldest first. */
  def ladder(json: Seq[String]): IndexedSeq[StructType] =
    json.map(DataType.fromJson(_).asInstanceOf[StructType]).toIndexedSeq

  /** The ladder after a commit whose schema is `next`: a new rung only when
    * `next` differs from the last one.
    */
  def grow(ladder: IndexedSeq[StructType], next: StructType): IndexedSeq[StructType] =
    if (ladder.lastOption.contains(next)) ladder else ladder :+ next

  /** The ladder after a batch of schema `incoming` merges in (see [[merge]]). */
  def evolve(ladder: IndexedSeq[StructType], incoming: StructType): IndexedSeq[StructType] =
    grow(ladder, ladder.lastOption.fold(incoming)(merge(_, incoming)))

  /** Read `files` — (rung id, path) pairs — each under the rung it was
    * written with, aligned to the last rung and unioned by name. No file
    * gives an empty frame under the last rung.
    */
  def read(spark: SparkSession, ladder: IndexedSeq[StructType],
      files: Seq[(Int, String)]): DataFrame = {
    val target = ladder.last
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], target)
    else files.groupBy(_._1).toSeq.sortBy(_._1).map { case (rung, fs) =>
      align(spark.read.schema(ladder(rung)).parquet(fs.map(_._2): _*), target)
    }.reduce(_.unionByName(_))
  }

  /** The columns that project a frame with columns `have` onto `target`:
    * widened columns cast, missing ones null, in target order and target's
    * name spelling — resolution is case-insensitive like Spark's own. Pure
    * Column ops — stays inside whole-stage codegen.
    */
  def project(have: Seq[String], target: StructType): Seq[Column] = {
    val byKey = have.map(n => keyOf(n) -> n).toMap
    target.fields.toSeq.map { f =>
      byKey.get(keyOf(f.name)) match {
        case Some(actual) => col(actual).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
  }

  /** Project `df` onto `target` (see [[project]]). */
  def align(df: DataFrame, target: StructType): DataFrame =
    df.select(project(df.columns.toSeq, target): _*)
}
