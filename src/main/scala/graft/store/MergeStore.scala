package graft.store

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Keyed merge ("upsert") semantics over Parquet — the engine's analogue of
  * the reference's persistence layer:
  *
  *  - S9 per-row upsert / S10 bulk `INSERT ... ON DUPLICATE KEY UPDATE`
  *    (citizenphil.py:160-368) become generation-versioned writes + a
  *    keep-latest merge view;
  *  - M4 creation-field preservation (DAT_CREAT etc. written on insert
  *    only, citizenphil.py:293,316-321): creation columns take their value
  *    from the OLDEST generation of the key;
  *  - M1 never-blank rule (MAIN_IMAGE_URL only written when resolved,
  *    wikipedia_page_writer.py:319-320): nullable "sticky" columns take
  *    the latest NON-NULL value;
  *  - M2/M3 replace-set + tail prune: writing the full new row set per key
  *    replaces upsert+delete in one idempotent operation (nested-array
  *    layout makes the prune implicit).
  *
  * Storage layout: `dir/gen=N/` parquet per ingest generation; the merged
  * view is computed with ONE window (keep-latest) + a self-aggregation for
  * creation/sticky columns. At scale, generations are compacted by
  * rewriting the merged view as a new base generation (see [[compact]]) —
  * the Iceberg-snapshot model reproduced minimally (no Iceberg jars
  * in-sandbox, SURVEY.md §7.0).
  */
object MergeStore {

  def genDir(dir: String, gen: Int) = s"$dir/gen=$gen"

  def generations(dir: String): Seq[Int] = {
    val d = new java.io.File(dir)
    if (!d.exists) Seq.empty
    else d.listFiles().map(_.getName).filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toInt).sorted.toSeq
  }

  /** Append one ingest generation (the bulk-upsert batch, S10). */
  def ingest(df: DataFrame, dir: String): Int = {
    val next = generations(dir).lastOption.getOrElse(-1) + 1
    df.write.mode(SaveMode.Overwrite).parquet(genDir(dir, next))
    next
  }

  /** The merged (upserted) view of the table.
    *
    * @param keys          unique key columns (the UNIQUE index)
    * @param creationCols  insert-only columns (M4): value of the key's
    *                      FIRST generation wins
    * @param stickyCols    never-blank columns (M1): latest non-null wins
    */
  def mergedView(spark: SparkSession, dir: String, keys: Seq[String],
                 creationCols: Seq[String] = Nil,
                 stickyCols: Seq[String] = Nil): DataFrame = {
    val all = spark.read.parquet(dir) // partition column `gen` discovered
    val keyCols = keys.map(col)

    // r6 fast path (guide §2.3 "aggregate before you shuffle"): the plain
    // keep-latest view (no creation/sticky columns) needs no window at all
    // — max over struct(gen, value...) is the latest generation's row (gen
    // leads the struct and is unique per key within a store, the ingest
    // contract; the value fields are never reached as comparators). The
    // window plan locally sorted the full store by the window order,
    // shuffled it, and sorted again; the aggregation shuffles only
    // map-side partial maxima and its SortAggregate sorts by the group
    // key alone. Output columns/rows identical (same DuckDB oracle).
    // Guarded on orderable value types — max(struct) needs an ordering.
    import org.apache.spark.sql.types._
    def orderable(dt: DataType): Boolean = dt match {
      case a: ArrayType => orderable(a.elementType)
      case s: StructType => s.fields.forall(f => orderable(f.dataType))
      case _: NumericType | _: StringType | _: BooleanType | _: BinaryType |
           _: DateType | _: TimestampType | _: TimestampNTZType | _: NullType => true
      case _ => false
    }
    val valueFields = all.schema.fields.filterNot(f => keys.contains(f.name) || f.name == "gen")
    if (creationCols.isEmpty && stickyCols.isEmpty &&
        valueFields.forall(f => orderable(f.dataType))) {
      val packed = struct(col("gen") +: valueFields.map(f => col(f.name)): _*)
      return all.groupBy(keyCols: _*)
        .agg(max(packed).as("__latest"))
        .select(all.columns.filterNot(_ == "gen").map(c =>
          if (keys.contains(c)) col(c) else col(s"__latest.$c").as(c)): _*)
    }

    val wLatest = Window.partitionBy(keyCols: _*).orderBy(col("gen").desc)
    val wAll = Window.partitionBy(keyCols: _*)
      .orderBy(col("gen").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wUpTo = Window.partitionBy(keyCols: _*)
      .orderBy(col("gen").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val decorated = creationCols.foldLeft(
      stickyCols.foldLeft(all) { (df, c) =>
        // last non-null across generations (sticky, M1)
        df.withColumn(c, last(col(c), ignoreNulls = true).over(wUpTo))
      }) { (df, c) =>
      // first generation's value (creation, M4)
      df.withColumn(c, first(col(c)).over(wAll))
    }
    decorated
      .withColumn("__rn", row_number().over(wLatest))
      .filter(col("__rn") === 1)
      .drop("__rn", "gen")
  }

  /** Compact all generations into a single new base (snapshot rewrite).
    *
    * Crash-safe: stale `.old`/`.compact` leftovers from a crashed compact
    * are cleared up front (they would make the renames silent no-ops),
    * every rename result is checked with rollback on failure, and the old
    * copy is deleted only after the new table is verifiably readable — at
    * no point is there no table at `dir` that cannot be restored. */
  def compact(spark: SparkSession, dir: String, keys: Seq[String],
              creationCols: Seq[String] = Nil,
              stickyCols: Seq[String] = Nil): Unit = {
    val target = new java.io.File(dir)
    val staging = new java.io.File(s"$dir.compact")
    val old = new java.io.File(s"$dir.old")
    FileUtils.deleteQuietly(staging)
    FileUtils.deleteQuietly(old)
    val merged = mergedView(spark, dir, keys, creationCols, stickyCols)
    merged.withColumn("gen", lit(0)).write.mode(SaveMode.Overwrite)
      .partitionBy("gen").parquet(staging.getPath)
    if (!target.renameTo(old))
      throw new java.io.IOException(
        s"compact: cannot move $dir aside — data left intact")
    if (!staging.renameTo(target)) {
      old.renameTo(target) // roll the original back into place
      throw new java.io.IOException(
        s"compact: cannot commit staging for $dir — original restored")
    }
    // delete the old copy only once the new base actually reads
    require(spark.read.parquet(dir).columns.nonEmpty,
      s"compact: new base at $dir unreadable; old copy kept at $old")
    FileUtils.deleteQuietly(old)
  }

  /** Bucketed snapshot of the merged view — the READ-optimized compaction.
    *
    * [[compact]] bounds the cost of the merge itself; this bounds every
    * DOWNSTREAM key-clustered operator. The merged view is rewritten as a
    * parquet table hash-bucketed (and per-bucket sorted) on the key
    * columns, so keep-latest windows, doc-keyed sort-merge joins (J5
    * backfill, S4 sitelink batch lookup) and groupBy-key aggregations over
    * the snapshot read pre-shuffled data and plan with ZERO Exchange on
    * the snapshot side — BucketedStoreSpec pins this against a
    * plain-parquet negative control. At 100 TB this is the difference
    * between re-shuffling the full store on every tick and shuffling only
    * the tick's delta: one bucketed write amortizes the big shuffle across
    * every later run, the role Iceberg's `bucket(N, key)` partition
    * transform plays in the target deployment (SURVEY.md §7.0; the
    * reference leans on its MySQL UNIQUE index the same way,
    * citizenphil.py:160-368).
    *
    * `numBuckets` is the lever to size at scale: buckets ≈ store bytes /
    * target file size (e.g. 100 TB / 256 MB ≈ 400k buckets), fixed once
    * per table so successive snapshots stay join-compatible with each
    * other. Returns the catalog-backed DataFrame over the new snapshot.
    */
  def snapshotBucketed(spark: SparkSession, dir: String, table: String,
                       numBuckets: Int, keys: Seq[String],
                       creationCols: Seq[String] = Nil,
                       stickyCols: Seq[String] = Nil): DataFrame = {
    val path = new java.io.File(s"$dir.bucketed")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    FileUtils.deleteQuietly(path) // external-table path: DROP leaves the files behind
    mergedView(spark, dir, keys, creationCols, stickyCols)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path.getPath)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
    spark.table(table)
  }

  /** One merge step over a resolved base — the "shuffle only the delta"
    * operator the bucketed snapshot exists for.
    *
    * `base` is a RESOLVED table (every key once, creation/sticky already
    * applied — a [[mergedView]] or a [[snapshotBucketed]] read-back);
    * `delta` is ONE newer ingest generation (unique per key). The merge is
    * a single full-outer join with per-column resolution:
    *
    *  - plain columns: the delta row wins WHEN PRESENT, null included
    *    (keep-latest takes the latest generation's value as-is);
    *  - sticky columns (M1): delta non-null wins, else the base's
    *    resolved value — `last(ignoreNulls)` telescopes;
    *  - creation columns (M4): the base's value wins when the key existed,
    *    null included — `first()` telescopes.
    *
    * Telescoping is exact: mergeDelta(mergedView(g0..gk), g(k+1)) ≡
    * mergedView(g0..g(k+1)) (BucketedStoreSpec asserts it row-for-row).
    * Over a bucketed snapshot the join plans with the base side
    * EXCHANGE-FREE — only the delta shuffles (into the base's bucket
    * partitioning), so per-tick merge cost is O(delta), not O(store).
    * Key columns must be non-null (doc keys are) — presence tests ride
    * the join's null extension. */
  def mergeDelta(base: DataFrame, delta: DataFrame, keys: Seq[String],
                 creationCols: Seq[String] = Nil,
                 stickyCols: Seq[String] = Nil): DataFrame = {
    val valueCols = base.columns.filterNot(keys.contains).toSeq
    val cond = keys.map(k => col(s"b.$k") === col(s"d.$k")).reduce(_ && _)
    val inDelta = keys.map(k => col(s"d.$k").isNotNull).reduce(_ && _)
    val inBase = keys.map(k => col(s"b.$k").isNotNull).reduce(_ && _)
    val keyOut = keys.map(k => coalesce(col(s"b.$k"), col(s"d.$k")).as(k))
    val valOut = valueCols.map { c =>
      if (creationCols.contains(c))
        when(inBase, col(s"b.$c")).otherwise(col(s"d.$c")).as(c)
      else if (stickyCols.contains(c))
        coalesce(col(s"d.$c"), col(s"b.$c")).as(c)
      else
        when(inDelta, col(s"d.$c")).otherwise(col(s"b.$c")).as(c)
    }
    base.as("b").join(delta.as("d"), cond, "full_outer")
      .select(keyOut ++ valOut: _*)
  }
}
