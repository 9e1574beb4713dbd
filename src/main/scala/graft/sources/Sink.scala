package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Write-side data layout. The reference has no writers at all (results stay
  * in memory, reference `sql_select_query.py:96`); at 100 TB the write
  * layout IS the read performance, so the engine ships one:
  *
  *   - [[partitioned]]: hive-style directory partitioning on low-cardinality
  *     columns — downstream filters on those columns become partition
  *     PRUNING (directories never listed, files never opened), verified in
  *     SourcesSpec by asserting the read-back plan's partition filters.
  *   - [[sorted]]: within-file ordering on a high-cardinality column so
  *     parquet row-group min/max statistics make point/range predicates
  *     skip row groups (the same idea one level down).
  *
  * Partition-count discipline: directory partitioning is for columns with
  * tens-to-thousands of values (date, category, tenant); partitioning on a
  * high-cardinality key explodes into millions of small files — that's what
  * [[sorted]] + row-group stats are for instead.
  */
object Sink {

  /** Hive-style partitioned parquet. */
  def partitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** Parquet sorted within partitions for row-group statistics pruning.
    * Round 16: persists the ordering as a `_clusterspec` (kind=sort), so
    * [[compact]] re-sorts rewrites instead of erasing the within-file
    * ordering the layout exists for — the same lifecycle contract the
    * z-order layout has. */
  def sorted(df: DataFrame, path: String, orderCols: String*): Unit = {
    df.sortWithinPartitions(orderCols.head, orderCols.tail: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(df.sparkSession.sparkContext
      .hadoopConfiguration)
    writeClusterSpec(fs, root, ClusterSpecFile(orderCols, 0, Nil, "sort"))
  }

  /** Z-ORDER clustered parquet — [[sorted]] generalized to MULTIPLE
    * pruning dimensions. A single-column sort makes row-group min/max
    * statistics selective on that column and useless on every other; a
    * z-order layout interleaves the bits of each clustering column's
    * equi-depth quantile bucket into one Morton key and lays the data out
    * along that curve, so every file/row-group covers a tight BOX in all
    * clustered dimensions at once — point/range predicates on ANY of them
    * skip most row groups at footer-read time (the Delta/Iceberg OPTIMIZE
    * ZORDER idea, as a plain parquet layout). The pruning is free
    * thereafter: plain `spark.read.parquet` + pushed filters, no reader
    * cooperation needed.
    *
    * Scale shape: one multi-column approxQuantile sketch prices the
    * bucket boundaries (driver-held, model-sized — 2^bits doubles per
    * dimension), the z-value is a narrow codegen'd projection
    * ([[graft.functions.GraftFunctions.zValue]]), and the only shuffle is
    * the `repartitionByRange` on the key that any clustered write needs.
    * Quantile (not raw-bit) bucketing makes the curve distribution-proof:
    * skewed columns still fill their bucket range evenly, so z-intervals
    * carry comparable row mass.
    *
    * Columns must be numeric (cast dates/timestamps upstream). Up to
    * `63 / bits` dimensions; past ~4 the boxes fatten and per-dimension
    * selectivity fades — that is z-order's nature, not a knob to push.
    * `files` caps the layout width (0 → the session's shuffle
    * parallelism).
    *
    * Lifecycle (round 16): the curve is PERSISTED next to the data as
    * `_clusterspec` (columns, bits, quantile boundaries — the
    * `_bucketspec` pattern), so the layout keeps its reason to exist
    * under maintenance: appends land unclustered and decay the skipping,
    * and a [[compact]] of a leaf under a spec re-SORTS the rewrite along
    * the same curve instead of coalescing it away; [[recluster]] re-runs
    * the whole curve with fresh boundaries when the data distribution
    * itself has drifted. */
  def zordered(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 8, files: Int = 0): Unit = {
    require(cols.nonEmpty, "at least one clustering column")
    // bits ≤ 16: past 2^16 buckets the boundary sketch itself becomes
    // the cost (and `1 << bits` must stay a sane Int — bits ≥ 31 would
    // silently wrap into a degenerate constant-zero curve).
    require(bits >= 1 && bits <= 16 && bits * cols.size <= 63,
      s"need 1 ≤ bits ≤ 16 and bits × dims ≤ 63, got bits=$bits " +
        s"dims=${cols.size}")
    val bounds = zBounds(df, cols, bits)
    zwrite(df, path, cols, bounds, bits, files)
    // Persist the curve next to the data (underscore-hidden): appends
    // decay the layout, and without the spec the layout's own
    // maintenance jobs would ERASE it — [[compact]] re-sorts rewrites on
    // this spec, [[recluster]] re-runs the whole curve from it.
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(df.sparkSession.sparkContext
      .hadoopConfiguration)
    writeClusterSpec(fs, root, ClusterSpecFile(cols, bits, bounds, "z"))
  }

  /** [[zordered]] × [[partitioned]] — the standard date-partitioned,
    * z-clustered fact layout (Delta/Iceberg's per-partition OPTIMIZE
    * ZORDER as a plain parquet layout): coarse pruning by directory on
    * `partCols`, multi-dimension row-group skipping on `zCols` inside
    * every partition. One quantile sketch prices GLOBAL boundaries (the
    * curve must mean the same thing in every partition — the root-level
    * `_clusterspec` governs all leaves), one range shuffle on
    * (partitions, z) co-locates each writer task's output, and the
    * writer splits by partition directory. [[compact]]'s per-leaf
    * rewrite finds the root spec and re-sorts each partition leaf along
    * the same curve — the partitioned layout's recluster path. */
  def zorderedPartitioned(df: DataFrame, path: String,
      partCols: Seq[String], zCols: Seq[String], bits: Int = 8,
      files: Int = 0): Unit = {
    import org.apache.spark.sql.functions.{array, col}
    require(partCols.nonEmpty && zCols.nonEmpty,
      "need at least one partition column and one clustering column")
    require(partCols.intersect(zCols).isEmpty,
      s"partition and clustering columns overlap: " +
        s"${partCols.intersect(zCols).mkString(", ")}")
    require(bits >= 1 && bits <= 16 && bits * zCols.size <= 63,
      s"need 1 ≤ bits ≤ 16 and bits × dims ≤ 63, got bits=$bits " +
        s"dims=${zCols.size}")
    val spark = df.sparkSession
    val bounds = zBounds(df, zCols, bits)
    val nFiles =
      if (files > 0) files else spark.sessionState.conf.numShufflePartitions
    val keys = partCols.map(col) :+ col("__graft_z")
    df.withColumn("__graft_z", graft.functions.GraftFunctions.zValue(
        array(zCols.map(c => znorm(df, c)): _*), bounds, bits))
      .repartitionByRange(nFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("__graft_z")
      .write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeClusterSpec(fs, root, ClusterSpecFile(zCols, bits, bounds, "z"))
  }

  /** A clustering column normalized to DOUBLE for the curve: numerics
    * cast; dates become epoch DAYS and timestamps epoch MICROS (their
    * parquet physical order, so file min/max statistics prune the
    * ORIGINAL column's predicates — clustering on a derived value that
    * ordered differently would sort the layout by something the pushed
    * filters can't use). Anything else refuses loudly. */
  private def znorm(df: DataFrame, c: String)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, unix_date, unix_micros}
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case _: TimestampNTZType =>
        unix_micros(col(c).cast("timestamp")).cast("double")
      case _: NumericType => col(c).cast("double")
      case other => throw new IllegalArgumentException(
        s"z-order column '$c' has unsupported type ${other.simpleString} " +
          "— numeric, date and timestamp columns cluster; cast anything " +
          "else to one of those upstream")
    }
  }

  /** Equi-depth quantile boundaries for the z-curve, one pass over all
    * clustering columns (driver-held, model-sized: ≤ 2^bits doubles per
    * dimension). */
  private def zBounds(df: DataFrame, cols: Seq[String],
      bits: Int): Seq[Seq[Double]] = {
    val buckets = 1 << bits
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val casted = df.select(cols.map(c => znorm(df, c).as(c)): _*)
    casted.stat.approxQuantile(cols.toArray, probs, 0.001)
      .map(_.toSeq.distinct).toSeq
  }

  /** Curve-ordered projection: z-key (narrow codegen), the one range
    * shuffle any clustered layout needs, within-file sort. */
  private def zsort(df: DataFrame, cols: Seq[String],
      bounds: Seq[Seq[Double]], bits: Int, nFiles: Int): DataFrame = {
    import org.apache.spark.sql.functions.{array, col}
    df.withColumn("__graft_z", graft.functions.GraftFunctions.zValue(
        array(cols.map(c => znorm(df, c)): _*), bounds, bits))
      .repartitionByRange(nFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
  }

  private def zwrite(df: DataFrame, path: String, cols: Seq[String],
      bounds: Seq[Seq[Double]], bits: Int, files: Int): Unit = {
    val nFiles =
      if (files > 0) files
      else df.sparkSession.sessionState.conf.numShufflePartitions
    zsort(df, cols, bounds, bits, nFiles)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  // ───────────── persisted cluster spec (z-order lifecycle) ───────────────
  // The `_bucketspec` pattern for the z layout: `zordered` persists the
  // curve (columns, bits, quantile boundaries) at the data path, so the
  // layout's maintenance twins can preserve it — without this, a
  // small-files `compact` of a z-ordered leaf rewrites files in read
  // order and silently erases the multi-dimension skipping the layout
  // exists for. Doubles round-trip exactly through
  // `java.lang.Double.toString`/`parseDouble`, so a re-read spec
  // reproduces bit-identical z-keys.

  /** One persisted clustering: kind "z" (Morton curve — bits + quantile
    * boundaries) or kind "sort" (plain within-file ordering on `cols`;
    * bits/bounds unused). */
  private final case class ClusterSpecFile(cols: Seq[String], bits: Int,
      bounds: Seq[Seq[Double]], kind: String)

  private def writeClusterSpec(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, spec: ClusterSpecFile): Unit = {
    val body = (Seq("graft-clusterspec v1", s"kind ${spec.kind}",
      s"bits ${spec.bits}") ++
      spec.cols.map("col " + _) ++
      spec.cols.zip(spec.bounds).map { case (c, bs) =>
        s"bounds $c " + bs.map(java.lang.Double.toString).mkString(",")
      }).mkString("\n") + "\n"
    val tmp = new org.apache.hadoop.fs.Path(dir, ".clusterspec.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val dst = new org.apache.hadoop.fs.Path(dir, "_clusterspec")
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"failed to write cluster spec $dst")
  }

  private def readClusterSpec(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[ClusterSpecFile] = {
    val p = new org.apache.hadoop.fs.Path(dir, "_clusterspec")
    if (!fs.exists(p)) return None
    try {
      val lines = readSmallFile(fs, p).split("\n", -1).toSeq
      if (!lines.headOption.exists(_.startsWith("graft-clusterspec")))
        return None
      val kind = lines.find(_.startsWith("kind "))
        .map(_.stripPrefix("kind ")).getOrElse("z")
      val bits = lines.find(_.startsWith("bits "))
        .flatMap(s => scala.util.Try(s.stripPrefix("bits ").toInt).toOption)
      val cols = lines.filter(_.startsWith("col ")).map(_.stripPrefix("col "))
      val bounds = cols.map { c =>
        lines.find(_.startsWith(s"bounds $c "))
          .map(_.stripPrefix(s"bounds $c ").split(',')
            .filter(_.nonEmpty).map(java.lang.Double.parseDouble).toSeq)
      }
      (kind, bits) match {
        case ("sort", _) if cols.nonEmpty =>
          Some(ClusterSpecFile(cols, 0, Nil, "sort"))
        case ("z", Some(b)) if cols.nonEmpty && bounds.forall(_.nonEmpty) =>
          Some(ClusterSpecFile(cols, b, bounds.map(_.get), "z"))
        case _ => None
      }
    } catch { case _: java.io.IOException | _: NumberFormatException => None }
  }

  /** Curve-decay signal for a `_clusterspec` layout — the rebuild-bar
    * pattern the serving indexes have (list imbalance → rebuild), applied
    * to the layout family: WHEN should an operator [[recluster]]? Reads
    * only NAMES + FOOTERS (one distributed metadata pass, the i2 probe's
    * cost shape): each parquet file's min/max statistics on the clustered
    * columns give the box it covers; the signal is
    *
    *   decay = mean(normalized box volume) × fileCount
    *
    * A tight curve scores ≈ 1 (n files each covering ~1/n of the space);
    * fully unclustered appends each cover the whole space, so k such
    * files push the score toward 1 + k. Rule of thumb: recluster past
    * ~4. Degenerate dimensions (global min == max) are ignored; row-group
    * stats missing for a clustered column count the file as full-volume
    * (the honest worst case). Parquet layouts only. */
  def clusterDecay(spark: org.apache.spark.sql.SparkSession,
      path: String): Double = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val spec = readClusterSpec(fs, root).getOrElse(
      throw new IllegalStateException(
        s"no _clusterspec at $path — clusterDecay measures Sink.zordered/" +
          "Sink.sorted layouts"))
    val (resolved, mixed) = resolveTree(fs, root)
    val names = (resolved.flatMap(_._2.files) ++ mixed)
      .map(_.getPath.toString)
    if (names.isEmpty) return 1.0
    val conf = new Ingest.SerConf(spark.sparkContext.hadoopConfiguration)
    val specCols = spec.cols
    // (file, per-dim min, per-dim max); NaN marks a missing stat.
    val boxes = spark.createDataset(names)
      .repartition(math.max(1, math.min(names.size,
        spark.sessionState.conf.numShufflePartitions)))
      .map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val blocks = r.getFooter.getBlocks.asScala.toSeq
          val mins = Array.fill(specCols.size)(Double.NaN)
          val maxs = Array.fill(specCols.size)(Double.NaN)
          for (b <- blocks; c <- b.getColumns.asScala) {
            val i = specCols.indexOf(c.getPath.toDotString)
            if (i >= 0) {
              val st = c.getStatistics
              if (st != null && !st.isEmpty && st.hasNonNullValue) {
                val (lo, hi) = st.genericGetMin match {
                  case v: java.lang.Integer =>
                    (v.toDouble, st.genericGetMax
                      .asInstanceOf[java.lang.Integer].toDouble)
                  case v: java.lang.Long =>
                    (v.toDouble, st.genericGetMax
                      .asInstanceOf[java.lang.Long].toDouble)
                  case v: java.lang.Float =>
                    (v.toDouble, st.genericGetMax
                      .asInstanceOf[java.lang.Float].toDouble)
                  case v: java.lang.Double =>
                    (v.doubleValue, st.genericGetMax
                      .asInstanceOf[java.lang.Double].doubleValue)
                  case _ => (Double.NaN, Double.NaN)
                }
                if (!lo.isNaN) {
                  mins(i) = if (mins(i).isNaN) lo else math.min(mins(i), lo)
                  maxs(i) = if (maxs(i).isNaN) hi else math.max(maxs(i), hi)
                }
              }
            }
          }
          (mins.toSeq, maxs.toSeq)
        } finally r.close()
      }
      .collect() // file-count rows of 2×dims doubles — name-sized
    val dims = specCols.indices
    val gmin = dims.map(i => boxes.map(_._1(i)).filterNot(_.isNaN)
      .foldLeft(Double.NaN)((a, b) => if (a.isNaN) b else math.min(a, b)))
    val gmax = dims.map(i => boxes.map(_._2(i)).filterNot(_.isNaN)
      .foldLeft(Double.NaN)((a, b) => if (a.isNaN) b else math.max(a, b)))
    val volumes = boxes.map { case (mins, maxs) =>
      dims.foldLeft(1.0) { (v, i) =>
        val width = gmax(i) - gmin(i)
        if (gmin(i).isNaN || width <= 0) v // degenerate dim: ignore
        else if (mins(i).isNaN) v * 1.0 // stat missing: full width
        else v * math.min(1.0, math.max(0.0,
          (maxs(i) - mins(i)) / width))
      }
    }
    volumes.sum // mean(volume) × fileCount == sum of volumes
  }

  /** Re-run a clustered layout's curve over its CURRENT content — the
    * recluster path for a layout that appends have decayed. For a
    * [[zordered]] layout (kind=z): fresh quantile boundaries are priced
    * over today's data (the distribution may have drifted since the
    * original write) and the whole layout rewrites along the new curve.
    * For a [[sorted]] layout (kind=sort): a global range re-sort — the
    * upgrade from within-file ordering to disjoint per-file ranges, so
    * file-level min/max skipping starts working too. Either way the
    * rewrite lands in a dot-temp sibling and the swap is [[compact]]'s
    * rename-mode delete+rename — a crash anywhere leaves either the old
    * layout or a complete new copy, and [[compactRecover]] converges
    * every state. The refreshed `_clusterspec` rides inside the copy.
    * Reads resolve through [[readCompacted]] first, so a
    * manifest-committed layout reclusters exactly. */
  def recluster(spark: org.apache.spark.sql.SparkSession, path: String,
      files: Int = 0): Unit = {
    compactRecover(spark, path) // converge any earlier interrupted swap
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The whole-layout swap below is delete+rename — TWO metadata ops
    // that are only safe where rename is atomic. On a copy-rename store
    // (s3a/gs/…) the gap between them is data-sized and reader-visible,
    // and a crash mid non-atomic DELETE leaves a partially-deleted root
    // alongside the complete tmp — a state compactRecover cannot tell
    // from "old leaf still present" and would resolve by discarding the
    // complete copy. Refuse up front; [[reclusterPartitioned]] is the
    // manifest-committed recluster for those stores (it accepts flat
    // roots too).
    val scheme = Option(root.toUri.getScheme).getOrElse(fs.getScheme)
    require(!isNonAtomicRename(spark, scheme),
      s"recluster on '$scheme': rename is a copy on this store, so the " +
        "whole-layout delete+rename swap is not crash-safe — use " +
        "Sink.reclusterPartitioned (manifest-committed, works on flat " +
        "layouts too)")
    val spec = readClusterSpec(fs, root).getOrElse(
      throw new IllegalStateException(
        s"no _clusterspec at $path — recluster is for Sink.zordered/" +
          "Sink.sorted layouts (write one with them, or compact plain " +
          "layouts with Sink.compact)"))
    // A partitioned tree would silently FLATTEN under this whole-layout
    // rewrite (the clustered write is directory-flat) — refuse;
    // [[reclusterPartitioned]] is the per-leaf recluster (with refreshed
    // boundaries) a partitioned layout wants.
    require(!children(fs, root).exists(s =>
        s.isDirectory && isVisible(s.getPath.getName)),
      s"$path has visible subdirectories (a partitioned layout) — " +
        "recluster only rewrites flat layouts; run " +
        "Sink.reclusterPartitioned, which refreshes the curve boundaries " +
        "and rewrites every leaf under compact's crash contract")
    val df = readCompacted(spark, path)
    val nFiles =
      if (files > 0) files else spark.sessionState.conf.numShufflePartitions
    val tmp = new org.apache.hadoop.fs.Path(root.getParent,
      s".cmp_tmp_${root.getName}")
    val newSpec =
      if (spec.kind == "sort") {
        // The sort layout's recluster is the RANGE upgrade: a global
        // re-sort gives every file a narrow disjoint range, so file-level
        // min/max skipping works too (sorted() alone only promises
        // within-file order).
        import org.apache.spark.sql.functions.col
        df.repartitionByRange(nFiles, spec.cols.map(col): _*)
          .sortWithinPartitions(spec.cols.map(col): _*)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        spec
      } else {
        val bounds = zBounds(df, spec.cols, spec.bits)
        zwrite(df, tmp.toString, spec.cols, bounds, spec.bits, files)
        spec.copy(bounds = bounds)
      }
    require(fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")),
      s"reclustered copy at $tmp has no _SUCCESS marker — aborting swap")
    writeClusterSpec(fs, tmp, newSpec)
    require(fs.delete(root, true),
      s"failed to delete old layout at $path (complete reclustered copy " +
        s"intact at $tmp; compactRecover finishes the swap)")
    require(fs.rename(tmp, root),
      s"failed to move reclustered layout from $tmp to $path (old layout " +
        "already deleted; compactRecover finishes the swap)")
  }

  /** Boundary-refresh recluster for a PARTITIONED z layout
    * ([[zorderedPartitioned]]) — and, because it commits leaf-by-leaf
    * under [[compact]]'s contract, the manifest-committed recluster for
    * ANY clustered layout on a copy-rename store (flat roots are one
    * leaf). kind=sort layouts are accepted too: they have no boundaries
    * to refresh, so the forced rewrite is the per-leaf RANGE upgrade
    * (disjoint per-file ranges — [[recluster]]'s sort semantic, which
    * plain [[compact]] deliberately does not pay for).
    *
    * Why it exists: [[compact]]'s per-leaf rewrite re-sorts along the
    * `_clusterspec` persisted at WRITE time, so under real value drift
    * (an events table whose timestamp column only grows) the equi-depth
    * quantile boundaries decay — new data all lands in the curve's last
    * bucket and the z-key stops discriminating, no matter how often the
    * leaves are re-sorted. [[clusterDecay]] surfaces exactly this; the
    * remedy has to refresh the BOUNDARIES, not just the sort. [[recluster]]
    * does that for flat layouts only (its whole-layout swap would flatten
    * a partitioned tree, and its delete+rename is unsafe on copy-rename
    * stores).
    *
    * Mechanics:
    *   1. fresh quantile boundaries are priced over the tree's CURRENT
    *      content in one pass (manifest-resolved read; the boundary
    *      table stays driver-held and model-sized — ≤ 2^bits doubles per
    *      dimension, independent of data scale);
    *   2. the refreshed `_clusterspec` commits at the root FIRST — a
    *      crash mid-sweep leaves some leaves on the old curve, and every
    *      later [[compact]] or re-run re-sorts them along the NEW spec,
    *      so the tree converges toward the refreshed curve instead of
    *      away from it (specs never gate correctness, only layout);
    *   3. every leaf rewrites along the new curve under [[compact]]'s
    *      exact per-leaf crash contract — snapshot-pinned read, dot-tmp
    *      copy, `_SUCCESS` check, concurrent-writer re-list guard, and
    *      the rename or manifest commit `commit` selects (`"auto"` picks
    *      manifest on copy-rename schemes) — partition values, pruning
    *      and schema unchanged. Leaves rewrite one distributed job each;
    *      `parallelism` drives that many concurrently, which is what
    *      keeps a million-leaf refresh cluster-bound instead of
    *      latency-bound. */
  def reclusterPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetBytesPerFile: Long = 128L << 20,
      parallelism: Int = 1,
      commit: String = "auto"): CompactStats = {
    compactRecover(spark, path) // converge any earlier interrupted swap
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val spec = readClusterSpec(fs, root).getOrElse(
      throw new IllegalStateException(
        s"no _clusterspec at $path — reclusterPartitioned is for " +
          "Sink.zordered/Sink.zorderedPartitioned/Sink.sorted layouts"))
    // kind=z refreshes the quantile boundaries; kind=sort has none — its
    // forced rewrite below is the per-leaf RANGE upgrade (disjoint
    // per-file ranges inside every leaf, [[recluster]]'s sort semantic).
    if (spec.kind == "z") {
      val df = readCompacted(spark, path)
      if (!df.isEmpty) {
        val bounds = zBounds(df, spec.cols, spec.bits)
        writeClusterSpec(fs, root, spec.copy(bounds = bounds))
      }
    }
    compactImpl(spark, path, targetBytesPerFile, "parquet", parallelism,
      commit, _ => (), force = true)
  }

  /** Bucketed (and optionally bucket-sorted) managed table: pays the
    * shuffle ONCE at write time so every later equi-join or aggregation on
    * `bucketCol` between tables sharing the bucketing is EXCHANGE-FREE —
    * the co-located-join layout for fact tables joined on the same key
    * query after query (at 100 TB, re-shuffling the fact table per query is
    * the single largest avoidable cost). Bucket count is a layout contract:
    * both sides of a co-located join need the same `numBuckets`. */
  def bucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, sortCols: String*): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Size-capped training-export shards: parquet part-files holding at
    * most `rowsPerFile` rows each (`maxRecordsPerFile` — the writer rolls
    * files without an extra shuffle). The layout a training job's data
    * loader wants: uniformly-sized shards it can assign to workers,
    * produced in one pass from however many partitions the pipeline ended
    * with. Combine with a preceding `repartition(n)` only when the
    * partition COUNT must change too; the row cap alone never shuffles. */
  def sharded(df: DataFrame, path: String, rowsPerFile: Long): Unit = {
    require(rowsPerFile >= 1, s"rowsPerFile must be >= 1, got $rowsPerFile")
    df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", rowsPerFile).parquet(path)
  }

  /** Idempotent per-batch landing zone for at-least-once streams: batch
    * `batchId` overwrites its OWN directory (`$path/b<batchId>/`), so a
    * re-delivered batch — a crash after the sink wrote but before the
    * engine committed offsets — replaces its earlier attempt instead of
    * appending a duplicate. Reading `path` recursively yields each
    * batch's rows exactly once. This is the foreachBatch idempotence
    * recipe from the Structured Streaming guide, packaged. */
  def idempotentBatch(df: DataFrame, path: String, batchId: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$path/b$batchId")

  /** [[idempotentBatch]] with a physical per-key directory split INSIDE
    * the batch directory (`$path/b<id>/sh=<key>/…`), rows sorted by
    * `sortCol` within files. The split is addressable maintenance
    * granularity: a later selective rewrite (retraction, compaction)
    * overwrites `b<id>/sh=<k>` alone instead of the whole batch — at
    * export scale the difference between a key-sized and a batch-sized
    * rewrite. `keyCol` is DUPLICATED into the directory column (`sh`)
    * rather than moved, so readers that list files recursively (and
    * therefore never see hive partition columns) still get every data
    * column. The batch directory as a whole keeps [[idempotentBatch]]'s
    * overwrite-on-replay semantics. */
  def idempotentBatchSharded(df: DataFrame, path: String, batchId: Long,
      keyCol: String, sortCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("sh", col(keyCol))
      .sortWithinPartitions(col("sh"), col(sortCol))
      .write.mode(SaveMode.Overwrite).partitionBy("sh")
      .parquet(s"$path/b$batchId")
  }

  /** [[partitioned]] on ORC, for lakes standardized on it — identical
    * pruning semantics, different columnar container. */
  def partitionedOrc(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).orc(path)

  /** How a [[compact]] run ended: partition leaves examined/rewritten, the
    * visible data-file count before/after, and how many rewrites were
    * ABORTED because a concurrent writer changed the leaf between the
    * snapshot and the swap (their leaves keep the writer's files plus the
    * originals; the next compact pass retries them). */
  final case class CompactStats(leavesSeen: Int, leavesRewritten: Int,
      filesBefore: Long, filesAfter: Long, leavesAborted: Int = 0)

  private def isVisible(name: String): Boolean =
    !name.startsWith(".") && !name.startsWith("_")

  private def children(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Leaf data directories under `root`: every directory whose visible
    * children include at least one FILE and NO visible subdirectory (hive
    * partition dirs, or the root itself for an unpartitioned dataset). A
    * mixed directory — visible files AND visible subdirectories — is never
    * a rewrite target: rewriting it would read the whole subtree (partition
    * inference pulls k=v children in) and the delete+rename swap would
    * flatten the nested dirs, changing layout for readers of the root; and
    * under parallelism > 1 the parent and child leaves would rewrite
    * concurrently over the same files. Its files are left alone; recursion
    * still descends into the subdirectories. */
  private def dataLeaves(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val kids = children(fs, root).filter(s => isVisible(s.getPath.getName))
    val subdirs = kids.filter(_.isDirectory)
    val here =
      if (kids.exists(_.isFile) && subdirs.isEmpty) Seq(root) else Nil
    here ++ subdirs.flatMap(d => dataLeaves(fs, d.getPath))
  }

  /** Visible files of MIXED directories under `root` (dirs holding both
    * visible files and visible subdirectories — never [[dataLeaves]], so
    * never compacted and never under a manifest). [[readCompacted]]'s
    * explicit-file load must include them verbatim, or the same layout
    * would return different rows depending on whether a manifest exists
    * anywhere else in the tree (the plain fast path reads them, the leaf
    * list alone would not). `cmpg-` names are still excluded — reserved
    * move-in names are uncommitted in ANY directory. */
  private def mixedDirFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val kids = children(fs, root).filter(s => isVisible(s.getPath.getName))
    val subdirs = kids.filter(_.isDirectory)
    val here =
      if (kids.exists(_.isFile) && subdirs.nonEmpty)
        kids.filter(s => s.isFile && cmpgGen(s.getPath.getName).isEmpty)
      else Nil
    here ++ subdirs.flatMap(d => mixedDirFiles(fs, d.getPath))
  }

  /** Filesystem schemes whose rename is a COPY, not a metadata operation —
    * [[compact]]'s delete+rename swap is not atomic there and the
    * reader-visible gap between the two ops stretches from microseconds to
    * data-sized copy time. On these stores `commit = "auto"` resolves to
    * the MANIFEST commit instead (see [[compact]]), which is a one-file
    * commit on any store. Extend per-deployment via
    * `spark.graft.sink.nonAtomicRenameSchemes` (comma-separated). */
  private val nonAtomicRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "oss", "cos", "swift")

  /** Conf key appending extra schemes to [[nonAtomicRenameSchemes]] —
    * custom object-store FS implementations (alluxio, oci, cosn, …) are a
    * deployment fact this code cannot enumerate. */
  val NonAtomicSchemesKey = "spark.graft.sink.nonAtomicRenameSchemes"

  private def isNonAtomicRename(spark: org.apache.spark.sql.SparkSession,
      scheme: String): Boolean = {
    val s = Option(scheme).map(_.toLowerCase).getOrElse("")
    nonAtomicRenameSchemes(s) ||
      spark.conf.get(NonAtomicSchemesKey, "").split(",")
        .map(_.trim.toLowerCase).filter(_.nonEmpty).contains(s)
  }

  /** Resolve a [[compact]] `commit` argument against the target's scheme:
    * `"auto"` picks `"manifest"` where rename is a copy (the swap must not
    * depend on rename atomicity there) and `"rename"` elsewhere (plain
    * directory readers keep their exact current semantics). */
  def commitModeFor(spark: org.apache.spark.sql.SparkSession,
      scheme: String, commit: String): String = commit match {
    case "auto" =>
      if (isNonAtomicRename(spark, scheme)) "manifest" else "rename"
    case "rename" | "manifest" => commit
    case other => throw new IllegalArgumentException(
      s"commit must be auto|rename|manifest, got '$other'")
  }

  @volatile private var warnedNonAtomic = false

  // ───────────── manifest-committed leaves ─────────────────────────────────
  // The MANIFEST commit makes a leaf swap a one-small-file operation on ANY
  // store: compacted part-files move into the leaf under reserved
  // `cmpg-<gen>-` names (invisible to manifest readers until committed),
  // then `_manifest.<gen>` — written to a dot-temp and renamed, so its
  // appearance is atomic everywhere a small-object PUT is — lists both the
  // new file set (`f` lines) and the exact file set it replaces (`r`
  // lines). Readers ([[readCompacted]]) resolve the leaf through the newest
  // manifest; the replaced originals are deleted only AFTER the commit, and
  // [[compactRecover]] can converge every crash state from the manifest
  // alone. Plain directory readers remain correct at rest (old files are
  // gone, `_manifest.*` is underscore-hidden from Spark); DURING a swap
  // they can see old+new together — racing a swap with a non-manifest
  // reader is out of contract in this mode, which is why `auto` only picks
  // it where the rename swap was already unsound.

  private val ManifestPrefix = "_manifest."
  private val CmpgRe = "^cmpg-(\\d+)-.*".r

  private def cmpgGen(name: String): Option[Long] = name match {
    case CmpgRe(g) => scala.util.Try(g.toLong).toOption
    case _ => None
  }

  private def manifestGen(name: String): Option[Long] =
    if (!name.startsWith(ManifestPrefix)) None
    else scala.util.Try(name.stripPrefix(ManifestPrefix).toLong).toOption

  /** One committed manifest: the leaf's visible file list (`files`) and
    * the file set its commit replaced (`replaces`). */
  private final case class LeafManifest(gen: Long, files: Seq[String],
      replaces: Set[String])

  /** Whole small control file as UTF-8 (manifests, bucket specs — KB
    * scale by construction). Propagates IOException to the caller. */
  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      leaf: org.apache.hadoop.fs.Path, gen: Long, files: Seq[String],
      replaces: Seq[String]): Unit = {
    val body = (Seq("graft-manifest v1", s"gen $gen") ++
      files.map("f " + _) ++ replaces.map("r " + _)).mkString("\n") + "\n"
    val tmp = new org.apache.hadoop.fs.Path(leaf, s".manifest.$gen.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val dst = new org.apache.hadoop.fs.Path(leaf, s"$ManifestPrefix$gen")
    // A torn remnant from a crashed earlier attempt at this gen (recover
    // normally removed it already) must not block the rename commit.
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst),
      s"failed to commit manifest $dst (leaf unchanged; temp at $tmp)")
  }

  /** Parse a manifest file; None when its CONTENT is partial/malformed (a
    * reader racing a non-atomic small-file copy, or a crashed copy) —
    * callers fall back / retry rather than trust a torn manifest. IO
    * behavior is the caller's risk posture: `strictIO = false` (readers)
    * treats an IOException like torn content and moves on; `strictIO =
    * true` (RECOVERY, which deletes based on the answer) propagates it —
    * a transient read error must abort recovery, never be mistaken for a
    * torn commit and rolled back destructively. */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, gen: Long,
      strictIO: Boolean = false): Option[LeafManifest] =
    try {
      val lines = readSmallFile(fs, p).split("\n", -1).toSeq
      if (lines.headOption.exists(_.startsWith("graft-manifest")) &&
          lines.exists(_ == s"gen $gen"))
        Some(LeafManifest(gen,
          lines.filter(_.startsWith("f ")).map(_.stripPrefix("f ")),
          lines.filter(_.startsWith("r ")).map(_.stripPrefix("r ")).toSet))
      else None
    } catch {
      case e: java.io.IOException =>
        if (strictIO) throw new java.io.IOException(
          s"manifest $p unreadable during recovery — aborting (a torn " +
            "COMMIT parses as malformed content, not an IO error)", e)
        else None
    }

  /** A leaf's data files resolved through its newest committed manifest:
    * the manifest's file list (files a racing commit already deleted are
    * reported in `missing` — the caller re-resolves) plus STRAGGLERS, i.e.
    * visible non-`cmpg` files the manifest neither lists nor replaces (a
    * writer landed them after the last compaction; the next compaction
    * folds them in). With no manifest: the plain visible listing minus
    * any uncommitted `cmpg-` move-ins. */
  private final case class ResolvedLeaf(
      files: Seq[org.apache.hadoop.fs.FileStatus],
      maxGen: Long,
      missing: Seq[String],
      // True when resolution EXCLUDED visible files a plain directory
      // read would include (uncommitted cmpg- move-ins, replaced files
      // awaiting deletion) — readers must then load the resolved list,
      // never the directory.
      excluded: Boolean)

  private def resolveLeaf(fs: org.apache.hadoop.fs.FileSystem,
      leaf: org.apache.hadoop.fs.Path): ResolvedLeaf = {
    val kids = children(fs, leaf).filter(_.isFile)
    val byName = kids.map(s => s.getPath.getName -> s).toMap
    val gens = kids.flatMap(s => manifestGen(s.getPath.getName))
    val committed = gens.sorted(Ordering[Long].reverse).iterator
      .flatMap(g => readManifest(fs,
        new org.apache.hadoop.fs.Path(leaf, s"$ManifestPrefix$g"), g))
      .take(1).toSeq.headOption
    committed match {
      case None =>
        val visible = kids.filter(s => isVisible(s.getPath.getName))
        val files = visible.filter(s => cmpgGen(s.getPath.getName).isEmpty)
        ResolvedLeaf(files, 0L, Nil,
          excluded = files.size != visible.size)
      case Some(m) =>
        val fileSet = m.files.toSet
        val listed = m.files.flatMap(byName.get)
        val missing = m.files.filterNot(byName.contains)
        val stragglers = kids.filter { s =>
          val n = s.getPath.getName
          isVisible(n) && cmpgGen(n).isEmpty && !fileSet.contains(n) &&
            !m.replaces.contains(n)
        }
        val visibleN = kids.count(s => isVisible(s.getPath.getName))
        ResolvedLeaf(listed ++ stragglers, m.gen, missing,
          excluded = listed.size + stragglers.size != visibleN)
    }
  }

  /** Read a (possibly manifest-committed) layout with snapshot-consistent
    * leaves: each partition leaf's file list resolves through its newest
    * `_manifest.<gen>` (plain listing where none exists), so a reader
    * racing a [[compact]] manifest swap sees the leaf atomically old or
    * new on ANY store — never mid-copy, never doubled. A leaf whose
    * manifest references files a newer commit already deleted re-resolves
    * (bounded retries). Hive partition columns are preserved via
    * `basePath`. */
  /** Every leaf of `root` resolved through its newest manifest (with the
    * backed-off missing-file retry), paired with the tree's mixed-dir
    * files — the shared resolution core of [[readCompacted]] and
    * [[readOwn]]. */
  private def resolveTree(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : (Seq[(org.apache.hadoop.fs.Path, ResolvedLeaf)],
         Seq[org.apache.hadoop.fs.FileStatus]) = {
    val leaves = dataLeaves(fs, root)
    val resolved = leaves.map { leaf =>
      var r = resolveLeaf(fs, leaf)
      var tries = 0
      while (r.missing.nonEmpty && tries < 3) {
        tries += 1
        // Backoff before re-resolving: `missing` means a racing commit
        // deleted files between our listing and now — its own commit
        // (the newer manifest) may still be mid-copy on an object store,
        // where the delete→commit window is far longer than three
        // back-to-back listings (50 → 200 → 800 ms covers it; the loud
        // require below stays the backstop).
        Thread.sleep(50L << (2 * (tries - 1)))
        r = resolveLeaf(fs, leaf)
      }
      require(r.missing.isEmpty,
        s"leaf $leaf resolves to missing files after $tries retries " +
          s"(${r.missing.take(3).mkString(", ")} …) — torn manifest state; " +
          "run Sink.compactRecover")
      leaf -> r
    }
    (resolved, mixedDirFiles(fs, root))
  }

  def readCompacted(spark: org.apache.spark.sql.SparkSession, path: String,
      format: String = "parquet"): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (resolved, mixed) = resolveTree(fs, root)
    val leaves = resolved.map(_._1)
    // `basePath` turns the directory levels between `path` and the files
    // into hive partition columns — right for a pure k=v layout, an
    // analysis error for mixed layouts like the export's `b<id>/sh=<k>`
    // (the `b<id>` level is not k=v). Any mixed-dir file sits at a
    // non-leaf level, so a tree with one cannot be pure k=v either.
    val rootPath = fs.makeQualified(root).toUri.getPath
    val pureHive = mixed.isEmpty && resolved.forall { case (leaf, _) =>
      fs.makeQualified(leaf).toUri.getPath.stripPrefix(rootPath)
        .split('/').filter(_.nonEmpty).forall(_.contains("="))
    }
    // Plain-directory fast path ONLY when it provably returns the exact
    // resolved set:
    //   - resolution changed nothing — no manifests anywhere, nothing
    //     excluded (a leaf mid-first-swap has maxGen == 0 but MUST load
    //     the resolved list, or the duplicates a plain read would see
    //     defeat the reader's whole contract); AND
    //   - the plain read even SEES every leaf: a flat directory or a
    //     pure k=v tree. With an empty partition spec Spark's directory
    //     read returns only the root's DIRECT children, so a nested
    //     non-k=v layout (mixed dirs, or `b<id>/sh=<k>`-style trees)
    //     would silently drop every nested leaf — those route through
    //     the explicit-file load below (this reader's contract is
    //     recursive semantics).
    val flatRoot = leaves == Seq(root) && mixed.isEmpty
    if ((flatRoot || pureHive) &&
        resolved.forall(r => r._2.maxGen == 0L && !r._2.excluded))
      spark.read.format(format).load(path)
    else {
      // Mixed-directory files ride along verbatim: they are outside
      // every leaf, so no manifest can govern them, but recursive
      // semantics include them.
      val files = resolved.flatMap(_._2.files.map(_.getPath.toString)) ++
        mixed.map(_.getPath.toString)
      val reader = spark.read.format(format)
      if (pureHive) reader.option("basePath", path).load(files: _*)
      else reader.load(files: _*)
    }
  }

  /** Conf key for [[readOwn]]'s footer quarantine (default true). */
  val QuarantineOwnKey = "spark.graft.read.quarantineOwn"

  /** Layout-aware reader for the engine's OWN landed artifacts (index
    * generations, export pack directories, tombstone files) — round 16:
    * the r15 read protections applied to the engine's own files, not
    * just user lakes. Two policies in one load:
    *
    *   1. MANIFEST resolution ([[readCompacted]]'s rule, per input
    *      root): each directory's leaves resolve through their newest
    *      `_manifest.<gen>`, so an artifact whose leaves were compacted
    *      under the one-file commit reads atomically old-or-new on any
    *      store. Plain directories resolve to their visible listing.
    *   2. COUNTED corruption quarantine (the i2 policy,
    *      [[Ingest.parquetQuarantined]]'s grain): every resolved file's
    *      footer is validated in one distributed names+footers probe;
    *      corrupt files — a part truncated by the store after commit, a
    *      half-uploaded object — are EXCLUDED and logged with their
    *      count and paths instead of failing the load or (worse)
    *      silently vanishing. All-corrupt fails loudly: an artifact with
    *      zero readable parts must never masquerade as empty. Disable
    *      per-session via [[QuarantineOwnKey]] = false (the probe is one
    *      metadata-only job per load).
    *
    * Inputs may be files or directories; explicit-file-list load with
    * recursive semantics. A single pure-k=v directory input keeps its
    * hive partition columns (basePath — the IVF `lists/list=N` shape);
    * multi-root and non-k=v layouts load bare, as their readers always
    * have (those layouts carry every column as data by construction).
    *
    * POLICY LINE — the two reads this method serves, both layout-aware
    * (manifest resolution + loud-missing), split by `quarantine`:
    *   - AVAILABILITY-first (`quarantine = true`, the default):
    *     serving-index generations (IVF lists / PQ codes) and landed
    *     pack shards — losing one part degrades recall/coverage
    *     measurably and counted, which beats a dead query path.
    *   - INTEGRITY-first (`quarantine = false`): dedup-GATE index
    *     layers (fp/nd/winnow/substring/sem generations and deltas),
    *     takedown negative layers and tombstone WALs. These still get
    *     manifest resolution (a compacted generation reads atomically
    *     old-or-new) and the loud missing-artifact failure, but a
    *     corrupt part FAILS the scan instead of being counted out: a
    *     silently missing fingerprint admits duplicates downstream and
    *     a silently missing tombstone UN-ERASES withdrawn content — for
    *     those, a loud failure is the correct behavior, not a gap.
    *     Round 17 makes the loud failure DETERMINISTIC: the same
    *     names+footers probe runs, but any bad file THROWS at read
    *     CREATION instead of trusting the scan to fail later. Trusting
    *     the scan was observed to be planner-state-dependent — the same
    *     poisoned bucketed layer failed a direct count but completed a
    *     broadcast-side probe join silently with the poisoned bucket's
    *     rows absent (zero failed tasks, zero bytes read from the
    *     layer) in repeated runs of identical code — so execution-time
    *     failure is NOT a reliable integrity gate; validation must
    *     happen at load.
    *     Model/params/quantizer control files stay plain fail-loud
    *     reads (an index cannot answer without them). The per-session
    *     [[QuarantineOwnKey]] kill-switch only ever disables
    *     quarantining; it can never weaken an integrity-first read. */
  def readOwn(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String], format: String = "parquet",
      quarantine: Boolean = true): DataFrame = {
    require(paths.nonEmpty, "readOwn needs at least one path")
    val hconf = spark.sparkContext.hadoopConfiguration
    // pureHive: a SINGLE directory input whose whole tree is k=v levels
    // (e.g. an IVF `lists/list=N` generation) keeps its hive partition
    // columns through the explicit-file load via basePath — exactly
    // [[readCompacted]]'s rule. Multi-root or non-k=v inputs load bare
    // (their layouts carry every column as data by construction).
    var pureHive = false
    val statuses: Seq[org.apache.hadoop.fs.FileStatus] =
      paths.flatMap { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(hconf)
        val st = fs.getFileStatus(hp) // a missing artifact fails loudly
        if (st.isFile) Seq(st)
        else {
          val (resolved, mixed) = resolveTree(fs, hp)
          if (paths.size == 1) {
            val rootPath = fs.makeQualified(hp).toUri.getPath
            pureHive = mixed.isEmpty && resolved.forall { case (leaf, _) =>
              fs.makeQualified(leaf).toUri.getPath.stripPrefix(rootPath)
                .split('/').filter(_.nonEmpty).forall(_.contains("="))
            }
          }
          resolved.flatMap(_._2.files) ++ mixed
        }
      }
    val names = statuses.map(_.getPath.toString)
    def load(fileNames: Seq[String]): DataFrame = {
      val r = spark.read.format(format)
      if (pureHive) r.option("basePath", paths.head).load(fileNames: _*)
      else r.load(fileNames: _*)
    }
    val probeable = (format == "parquet" || format == "orc") &&
      names.nonEmpty
    val doQuarantine = quarantine &&
      spark.conf.get(QuarantineOwnKey, "true").toBoolean
    if (!probeable || (quarantine && !doQuarantine)) load(names)
    else {
      val bad = probeFooters(spark, statuses, format)
      if (bad.isEmpty) load(names)
      else if (!quarantine)
        // INTEGRITY-first: deterministic loud failure at read creation —
        // the scan failing later is planner-state-dependent (see the
        // policy-line doc above).
        throw new IllegalStateException(
          s"integrity-first read of ${paths.take(3).mkString(", ")}: " +
            s"${bad.length} corrupt part(s) of ${names.size} — " +
            s"${bad.take(3).map(b => s"${b._1} (${b._2})").mkString("; ")}" +
            " — refusing to serve a gate/tombstone layer with missing " +
            "content (a silent gap admits duplicates or un-erases " +
            "takedowns)")
      else {
        val badSet = bad.map(_._1).toSet
        val good = names.filterNot(badSet)
        require(good.nonEmpty,
          s"every file of ${paths.take(3).mkString(", ")} failed its " +
            s"footer probe (${bad.head._2}) — refusing to read an " +
            "artifact with zero valid parts")
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"Sink.readOwn: quarantined ${bad.length} corrupt file(s) of " +
            s"${names.size} under ${paths.take(3).mkString(", ")} — " +
            s"sample: ${bad.take(3).map(b => s"${b._1} (${b._2})")
              .mkString("; ")}")
        load(good)
      }
    }
  }

  /** One distributed names+footers pass over `statuses`; only the
    * (exceptional, by the engine's own write discipline) BAD set comes to
    * the driver as (path, error). */
  private def probeFooters(spark: org.apache.spark.sql.SparkSession,
      statuses: Seq[org.apache.hadoop.fs.FileStatus],
      format: String): Array[(String, String)] = {
    import spark.implicits._
    val conf = new Ingest.SerConf(spark.sparkContext.hadoopConfiguration)
    val fmt = format
    spark.createDataset(statuses.map(s => (s.getPath.toString, s.getLen)))
      .toDF("path", "length")
      .repartition(math.max(1, math.min(statuses.size,
        spark.sessionState.conf.numShufflePartitions)))
      .map(r => (r.getString(0),
        Ingest.probeFooter(r.getString(0), r.getLong(1), fmt,
          conf.value)))
      .filter(_._2 != null)
      .collect()
  }

  /** Deterministic load-time integrity gate for artifacts that are READ
    * through a path [[readOwn]] cannot wrap — the bucketed catalog
    * tables the fp/winnow/substring gate layers register (their probes
    * need the bucketed scan's HashPartitioning, so the frame must come
    * from `spark.table`). Runs the same names+footers probe and THROWS
    * on any corrupt part; returns the number of files verified. Callers
    * invoke it once per index LOAD (restart-time, not per-batch) —
    * execution-time scan failure is not a reliable integrity gate (a
    * poisoned bucketed layer was observed to complete a broadcast-side
    * probe join silently with the poisoned bucket's rows absent). */
  def validateOwn(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String], format: String = "parquet"): Int = {
    require(paths.nonEmpty, "validateOwn needs at least one path")
    val hconf = spark.sparkContext.hadoopConfiguration
    val statuses = paths.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hconf)
      val st = fs.getFileStatus(hp) // a missing artifact fails loudly
      if (st.isFile) Seq(st)
      else {
        val (resolved, mixed) = resolveTree(fs, hp)
        resolved.flatMap(_._2.files) ++ mixed
      }
    }
    val bad = probeFooters(spark, statuses, format)
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"integrity validation of ${paths.take(3).mkString(", ")}: " +
          s"${bad.length} corrupt part(s) of ${statuses.size} — " +
          s"${bad.take(3).map(b => s"${b._1} (${b._2})").mkString("; ")}")
    statuses.size
  }

  /** Small-files compaction — rewrite each partition leaf whose visible
    * data files outnumber `ceil(bytes / targetBytesPerFile)` down to that
    * count. THE recurring operational job of a streaming lake: per-batch
    * idempotent sinks and frequent checkpoints land thousands of KB-sized
    * files per partition, and at 100 TB the resulting listing + open cost
    * (and parquet footer overhead) dominates scan time long before the
    * bytes do.
    *
    * Mechanics, per leaf (only leaves that NEED rewriting are touched —
    * an already-compact partition's files and mtimes are left alone):
    *   1. the leaf's visible files are SNAPSHOT by name+length and the
    *      rewrite reads exactly that file list (not the directory), so a
    *      file landing mid-rewrite is neither silently folded in nor
    *      silently dropped;
    *   2. the compacted copy lands in a dot-prefixed sibling
    *      (`.cmp_tmp_<leaf>`), which parquet/ORC readers never list;
    *   3. once the copy's `_SUCCESS` marker exists the leaf is RE-LISTED:
    *      if the visible file set no longer matches the snapshot (a
    *      concurrent writer landed or removed files), the swap ABORTS —
    *      the copy is discarded, the leaf keeps everything, and the next
    *      compact pass retries ([[CompactStats.leavesAborted]] counts it);
    *   4. otherwise the old leaf is deleted and the copy renames into
    *      place (two metadata ops, both return-checked — Hadoop
    *      FileSystems report many failures as `false`, not exceptions).
    * A crash anywhere leaves either the old leaf, or a complete copy the
    * next [[compact]] (or [[compactRecover]]) finishes swapping in — data
    * is never in only-partially-deleted state. Readers racing the swap see
    * the leaf atomically old or new, modulo the instant between the two
    * metadata ops; partition VALUES (directory names) are preserved
    * exactly, so pruning and schema are unchanged.
    *
    * Concurrency contract: the re-list-before-delete guard shrinks the
    * lost-write window from rewrite-job duration to the milliseconds
    * between the re-list and the delete — it does NOT close it. A writer
    * that may land files into a leaf at any instant needs the layout's own
    * lock held around compact (the streaming export loop does exactly
    * that, see `ExportPipeline`); treat unsynchronized concurrent writers
    * as unsupported. The snapshot tuple is (name, length, mtime), so even
    * a same-name same-size in-place overwrite in that window is detected.
    *
    * Commit modes (`commit`):
    *   - `"rename"` — the delete+rename swap above: two metadata ops,
    *     correct on rename-atomic filesystems (HDFS, local), with a
    *     ms-wide reader-visible gap between them.
    *   - `"manifest"` — the one-file commit: new parts move into the leaf
    *     under reserved `cmpg-<gen>-` names, a `_manifest.<gen>` file
    *     (atomically-appearing small object) commits the swap, and the
    *     replaced files are deleted AFTER the commit. Readers resolve
    *     through [[readCompacted]] and see the leaf atomically old or new
    *     on ANY store — including object stores where rename is a copy —
    *     and there is no delete→rename gap at all. Plain directory readers
    *     stay correct at rest but must not race a swap in this mode.
    *   - `"auto"` (default) — manifest on copy-rename schemes
    *     (s3a/gs/wasb/… + [[NonAtomicSchemesKey]]), rename elsewhere.
    *
    * NOT for bucketed layouts ([[bucketed]]/[[bucketedExternal]]): bucket
    * ids live in the file NAMES, which a rewrite regenerates — compact
    * those by re-bucketing. Each leaf's rewrite is itself a distributed
    * job; `parallelism > 1` drives that many leaves concurrently (Spark
    * schedules concurrent jobs fairly from multiple threads), which is
    * what turns a million-leaf backfill from a day of sequential
    * tiny-job latency into a cluster-bound sweep. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytesPerFile: Long = 128L << 20,
      format: String = "parquet",
      parallelism: Int = 1,
      commit: String = "auto",
      // Test seam: runs per rewritten leaf after its copy completes and
      // before the re-list guard — the window a concurrent writer's file
      // would otherwise be lost in.
      afterCopy: org.apache.hadoop.fs.Path => Unit = _ => ()): CompactStats =
    compactImpl(spark, path, targetBytesPerFile, format, parallelism,
      commit, afterCopy, force = false)

  /** [[compact]]'s body with the one extra knob [[reclusterPartitioned]]
    * needs: `force` rewrites EVERY non-empty leaf (re-sorting it along
    * the persisted `_clusterspec`) even when its file count is already
    * at target — the per-leaf re-cluster sweep, under the exact same
    * snapshot / tmp-copy / `_SUCCESS` / re-list-guard / commit contract. */
  private def compactImpl(spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetBytesPerFile: Long,
      format: String,
      parallelism: Int,
      commit: String,
      afterCopy: org.apache.hadoop.fs.Path => Unit,
      force: Boolean): CompactStats = {
    require(targetBytesPerFile >= 1,
      s"targetBytesPerFile must be >= 1, got $targetBytesPerFile")
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scheme = Option(root.toUri.getScheme).getOrElse(fs.getScheme)
    val mode = commitModeFor(spark, scheme, commit)
    if (mode == "rename" && isNonAtomicRename(spark, scheme) &&
        !warnedNonAtomic) {
      warnedNonAtomic = true
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Sink.compact on '$scheme' with commit=rename: rename is a copy " +
        "on this store, so the leaf swap is not atomic — readers racing a " +
        "swap can see a leaf mid-copy. Use commit=manifest (+ " +
        "Sink.readCompacted) for an atomic one-file commit.")
    }
    compactRecover(spark, path)
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val rewritten = new java.util.concurrent.atomic.AtomicInteger
    val abortedN = new java.util.concurrent.atomic.AtomicInteger
    val before = new java.util.concurrent.atomic.AtomicLong
    val after = new java.util.concurrent.atomic.AtomicLong
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    def visibleFiles(dir: org.apache.hadoop.fs.Path) =
      children(fs, dir).filter(s => s.isFile && isVisible(s.getPath.getName))
    // The leaf's CURRENT data files under this commit mode — plain visible
    // listing for rename (manifests never exist there), manifest-resolved
    // for manifest (committed list + stragglers, uncommitted cmpg move-ins
    // excluded).
    def currentFiles(leaf: org.apache.hadoop.fs.Path)
        : (Seq[org.apache.hadoop.fs.FileStatus], Long) =
      if (mode == "rename") (visibleFiles(leaf), 0L)
      else { val r = resolveLeaf(fs, leaf); (r.files, r.maxGen) }
    def snap(files: Seq[org.apache.hadoop.fs.FileStatus]) =
      files.map(s =>
        (s.getPath.getName, s.getLen, s.getModificationTime)).toSet
    def oneLeaf(leaf: org.apache.hadoop.fs.Path): Unit = {
      seen.incrementAndGet()
      val (files, maxGen) = currentFiles(leaf)
      val bytes = files.map(_.getLen).sum
      val want = math.max(1L,
        (bytes + targetBytesPerFile - 1) / targetBytesPerFile).toInt
      before.addAndGet(files.size.toLong)
      if (files.size > want || (force && files.nonEmpty)) {
        val snapshot = snap(files)
        val tmp = new org.apache.hadoop.fs.Path(leaf.getParent,
          s".cmp_tmp_${leaf.getName}")
        // Read the SNAPSHOT file list, not the directory: the rewrite's
        // content is pinned to what was priced, independent of what lands
        // in the leaf while the job runs.
        val base = spark.read.format(format)
          .load(files.map(_.getPath.toString): _*)
        // Curve-preserving rewrite: a leaf under a persisted
        // `_clusterspec` (its own, or the layout root's) re-sorts along
        // the SAME z-curve instead of coalescing in read order — a plain
        // coalesce of a z-ordered leaf plus its unclustered appends would
        // silently erase the multi-dimension skipping the layout exists
        // for. The range partition is the rewrite's shuffle; boundaries
        // come from the spec (bit-identical keys to the original write).
        val clusterSpec = readClusterSpec(fs, leaf)
          .orElse(if (leaf == root) None else readClusterSpec(fs, root))
        val rewrite = clusterSpec match {
          case Some(cs) if cs.kind == "sort" && !force =>
            // The sorted layout's contract is WITHIN-FILE ordering:
            // restore it per output file, no extra shuffle (the same
            // cost model Sink.sorted itself has).
            base.coalesce(want).sortWithinPartitions(
              cs.cols.map(org.apache.spark.sql.functions.col): _*)
          case Some(cs) if cs.kind == "sort" =>
            // FORCED (recluster) mode upgrades the leaf to disjoint
            // per-file RANGES — [[recluster]]'s kind=sort semantic,
            // leaf-local: file-level min/max skipping starts working
            // inside the leaf, and the extra range shuffle is exactly
            // what the caller asked for.
            base.repartitionByRange(want,
              cs.cols.map(org.apache.spark.sql.functions.col): _*)
              .sortWithinPartitions(
                cs.cols.map(org.apache.spark.sql.functions.col): _*)
          case Some(cs) => zsort(base, cs.cols, cs.bounds, cs.bits, want)
          case None => base.coalesce(want)
        }
        rewrite.write.mode(SaveMode.Overwrite).format(format)
          .save(tmp.toString)
        // A spec living AT the leaf rides INSIDE the copy: the
        // rename-mode swap deletes the whole old leaf, and losing
        // `_clusterspec` there would make the NEXT compaction erase the
        // curve. (A root-level spec over partitioned leaves is never
        // deleted by a leaf swap; in manifest mode the leaf dir is never
        // deleted at all, and underscore files are not move-in
        // candidates — the tmp copy's spec is simply discarded with the
        // staging dir.)
        clusterSpec.foreach { cs =>
          if (readClusterSpec(fs, leaf).nonEmpty)
            writeClusterSpec(fs, tmp, cs)
        }
        require(fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")),
          s"compacted copy at $tmp has no _SUCCESS marker — aborting swap")
        afterCopy(leaf)
        // Concurrent-writer guard: a file that landed (or vanished, or was
        // overwritten in place — the mtime term) since the snapshot would
        // be deleted without having been copied — abort this leaf's swap
        // and let the next pass retry on the new set.
        val now = snap(currentFiles(leaf)._1)
        if (now != snapshot) {
          abortedN.incrementAndGet()
          require(fs.delete(tmp, true),
            s"failed to delete aborted compaction copy $tmp")
          log.warn(
            s"Sink.compact: leaf $leaf changed during rewrite " +
            s"(${snapshot.size} -> ${now.size} files) — swap aborted, " +
            "leaf left untouched for the next pass")
          after.addAndGet(now.size.toLong)
        } else if (mode == "rename") {
          rewritten.incrementAndGet()
          require(fs.delete(leaf, true),
            s"failed to delete old leaf $leaf (copy intact at $tmp; " +
            "compactRecover will finish the swap)")
          require(fs.rename(tmp, leaf),
            s"failed to rename $tmp into place at $leaf (old leaf already " +
            "deleted; compactRecover will finish the swap)")
          after.addAndGet(visibleFiles(leaf).size.toLong)
        } else {
          // MANIFEST commit: move-in (invisible to manifest readers),
          // one-file commit, then post-commit deletes. A crash anywhere
          // converges via compactRecover: pre-commit states roll back
          // (uncommitted cmpg files deleted), post-commit states roll
          // forward (replaced files deleted).
          rewritten.incrementAndGet()
          val gen = maxGen + 1
          val parts = children(fs, tmp)
            .filter(s => s.isFile && isVisible(s.getPath.getName))
          val newNames = parts.map { p =>
            val name = s"cmpg-$gen-${p.getPath.getName}"
            require(fs.rename(p.getPath,
              new org.apache.hadoop.fs.Path(leaf, name)),
              s"failed to move compacted part ${p.getPath} into $leaf " +
              "(uncommitted; compactRecover rolls this leaf back)")
            name
          }
          val replaced = snapshot.map(_._1).toSeq.sorted
          writeManifest(fs, leaf, gen, newNames, replaced)
          // Post-commit garbage: replaced data files first, older
          // manifests second (a crash between the two leaves the old
          // manifest pointing at deleted files — harmless: resolution
          // always follows the NEWEST manifest; recover finishes).
          replaced.foreach { n =>
            require(fs.delete(new org.apache.hadoop.fs.Path(leaf, n), false),
              s"failed to delete replaced file $n in $leaf " +
              "(committed; compactRecover finishes the cleanup)")
          }
          children(fs, leaf).map(_.getPath)
            .filter(p => manifestGen(p.getName).exists(_ < gen))
            .foreach(p => fs.delete(p, false))
          require(fs.delete(tmp, true),
            s"failed to delete compaction staging dir $tmp")
          after.addAndGet(newNames.size.toLong)
        }
      } else after.addAndGet(files.size.toLong)
    }
    val leaves = dataLeaves(fs, root)
    if (parallelism <= 1) leaves.foreach(oneLeaf)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      try {
        import scala.jdk.CollectionConverters._
        val futures = pool.invokeAll(leaves.map { l =>
          new java.util.concurrent.Callable[Unit] { def call(): Unit = oneLeaf(l) }
        }.asJava)
        futures.asScala.foreach(_.get()) // surface the first failure
      } finally pool.shutdown()
    }
    // Curve-health signal at the maintenance point (the compactIvfIndex
    // imbalance-log pattern): per-leaf rewrites restore the curve only
    // for leaves that NEEDED compacting — decay that survives this pass
    // (appends spread thin across many leaves, boundary drift) is
    // exactly what [[recluster]] exists for, and this is where an
    // operator hears about it. kind=z only: [[sorted]] promises
    // within-file order, not tight boxes.
    if (format == "parquet" &&
        readClusterSpec(fs, root).exists(_.kind == "z")) {
      val decay = clusterDecay(spark, path)
      if (decay > ReclusterBar) log.warn(
        f"Sink.compact: cluster decay $decay%.1f exceeds $ReclusterBar%.1f at " +
          s"$path — the z-curve has decayed beyond what per-leaf " +
          "rewrites restore; run Sink.recluster (flat layouts) or " +
          "Sink.reclusterPartitioned (partitioned layouts, or any " +
          "layout on a copy-rename store)")
      else log.info(f"Sink.compact: cluster decay $decay%.1f " +
        f"(recluster bar $ReclusterBar%.1f) at $path")
    }
    CompactStats(seen.get, rewritten.get, before.get, after.get,
      abortedN.get)
  }

  /** The [[clusterDecay]] warning bar [[compact]] logs against on z
    * layouts (≈ three full-range unclustered appends' worth of decay). */
  val ReclusterBar = 4.0

  /** Finish or roll back [[compact]] swaps a crash interrupted, in BOTH
    * commit modes. Rename-mode states: a complete copy
    * (`.cmp_tmp_<leaf>/_SUCCESS`) whose leaf is gone renames into place;
    * every other `.cmp_tmp_` remnant (incomplete copy, or the old leaf
    * still present) is deleted — the old leaf stays authoritative.
    * Manifest-mode states (all derived from the newest committed
    * `_manifest.<gen>` alone): uncommitted `cmpg-` move-ins (gen above the
    * newest commit, or any with no manifest at all) roll BACK; files the
    * newest manifest replaced, and older manifests, roll FORWARD (their
    * deletes finish); `.manifest.*.tmp` remnants are discarded. [[compact]]
    * runs this first, so simply re-running compact after a crash is the
    * recovery procedure. */
  def compactRecover(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The ROOT's own swap tmp lives in its PARENT (`.cmp_tmp_<rootname>`
    // — a flat-directory compact, or a [[recluster]]): the walk below
    // never visits the parent, so converge that state here. Same rules:
    // a complete copy whose target is gone renames in; anything else
    // rolls back (the existing layout stays authoritative).
    Option(root.getParent).foreach { parent =>
      val t = new org.apache.hadoop.fs.Path(parent,
        s".cmp_tmp_${root.getName}")
      if (fs.exists(t)) {
        val complete =
          fs.exists(new org.apache.hadoop.fs.Path(t, "_SUCCESS"))
        if (complete && !fs.exists(root)) fs.rename(t, root)
        else fs.delete(t, true)
      }
    }
    def walk(dir: org.apache.hadoop.fs.Path): Unit = {
      val kids = children(fs, dir)
      kids.filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(".cmp_tmp_")).foreach { t =>
        val leaf = new org.apache.hadoop.fs.Path(dir,
          t.getPath.getName.stripPrefix(".cmp_tmp_"))
        val complete =
          fs.exists(new org.apache.hadoop.fs.Path(t.getPath, "_SUCCESS"))
        if (complete && !fs.exists(leaf)) fs.rename(t.getPath, leaf)
        else fs.delete(t.getPath, true)
      }
      // Manifest-mode convergence for THIS directory's files.
      val files = kids.filter(_.isFile)
      files.map(_.getPath)
        .filter(_.getName.startsWith(".manifest."))
        .foreach(p => fs.delete(p, false))
      val gens = files.flatMap(s => manifestGen(s.getPath.getName))
      val newest = gens.sorted(Ordering[Long].reverse).iterator
        .flatMap(g => readManifest(fs,
          new org.apache.hadoop.fs.Path(dir, s"$ManifestPrefix$g"), g,
          strictIO = true))
        .take(1).toSeq.headOption
      val committedGen = newest.map(_.gen).getOrElse(0L)
      val newestFiles = newest.map(_.files.toSet).getOrElse(Set.empty)
      files.map(_.getPath).foreach { p =>
        val n = p.getName
        val rollBack = cmpgGen(n).exists(_ > committedGen) ||
          (cmpgGen(n).nonEmpty && newest.isEmpty) ||
          // A torn manifest above the newest PARSEABLE one is an
          // incomplete commit (the commit point is the complete
          // appearance of the object) — discard it so the gen can be
          // retried cleanly.
          manifestGen(n).exists(_ > committedGen)
        val rollForward = newest.exists(m =>
          (m.replaces.contains(n) && !newestFiles.contains(n)) ||
            manifestGen(n).exists(_ < m.gen))
        if (rollBack || rollForward) fs.delete(p, false)
      }
      kids.filter(s => s.isDirectory && isVisible(s.getPath.getName))
        .foreach(d => walk(d.getPath))
    }
    walk(root)
  }

  /** Re-bucketing compaction for [[bucketed]]/[[bucketedExternal]] tables
    * (round 15 — [[compact]] excludes bucketed layouts by contract:
    * bucket ids live in the file NAMES, which a leaf rewrite would
    * regenerate). Streaming appends land one file per bucket per writer
    * task per batch, so a streamed-into bucketed table fragments without
    * bound — the scan cost grows as file opens while the exchange-free
    * join property silently stops paying for itself. This rewrites the
    * table to exactly ONE file per bucket under the SAME bucket spec:
    * `repartition(numBuckets, bucketCols)` IS the bucket hash
    * (murmur3 pmod n — the write-side `HashPartitioning`), so each writer
    * task holds exactly one bucket and the bucketed write emits one file
    * for it. Co-located joins keep planning with no Exchange before AND
    * after (spec-asserted).
    *
    * Hive-partitioned + bucketed tables (round 16 — the standard
    * date-partitioned, key-bucketed fact layout) compact the same way:
    * the bucketed scan is partition-blind (one task per bucket across
    * ALL partitions), and the writer splits each task's stream per
    * partition directory — one file per (partition, bucket), still
    * exchange-free, with partition pruning AND the co-located join both
    * preserved (spec-asserted).
    *
    * External tables keep their PATH (the durable artifact —
    * [[bucketedExternal]]'s contract): the rewrite lands at
    * `<path>__graft_cmp`, swaps directories, and re-registers the same
    * DDL at the original location. Managed tables swap via catalog
    * rename. NOT crash-atomic across the swap (a catalog drop+rename is
    * two operations): run it under the layout's own maintenance lock —
    * the [[compact]] concurrency contract. Every external-swap crash
    * state is RECOVERABLE without data loss: the table's full recovery
    * DDL (schema, bucket spec, provider, location) is persisted to a
    * `_bucketspec` file at the data path BEFORE any destructive step,
    * the compacted copy is fully materialized before any drop, and
    * [[compactBucketedRecover]] rolls the swap forward (or finishes the
    * rollback) from whatever remains. */
  def compactBucketed(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = catalog.getTableMetadata(ident)
    require(meta.bucketSpec.nonEmpty,
      s"$table has no bucket spec — compactBucketed is for bucketed " +
        "tables; use Sink.compact for plain path layouts")
    val tmpTable = s"${table}__graft_cmp"
    spark.sql(s"drop table if exists $tmpTable")
    // The rewrite is EXCHANGE-FREE by construction: a bucketed scan reads
    // each bucket's files as one partition (HashPartitioning on the bucket
    // columns), which is exactly the writer-side distribution that yields
    // one output file per bucket. Two planner behaviors would silently
    // break that alignment and scatter every bucket across every writer
    // task (measured: 29 files for 8 buckets):
    //   - DisableUnnecessaryBucketedScan sees no join/agg needing the
    //     clustering and un-buckets the scan — after EnsureRequirements
    //     already removed an explicit repartition as redundant AGAINST the
    //     bucketed partitioning. Pin the bucketed scan on
    //     (autoBucketedScan off) for the rewrite.
    //   - AQE's local shuffle read could rewire any residual shuffle to
    //     mapper-aligned partitions; off for the rewrite (nothing adaptive
    //     to gain — the distribution IS the contract).
    // Both saved/restored around the write.
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val autoBktKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val savedAuto = spark.conf.get(autoBktKey)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set(autoBktKey, "false")
    try compactBucketedWrite(spark, table, tmpTable, meta,
      spark.table(table))
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      spark.conf.set(autoBktKey, savedAuto)
    }
  }

  private def compactBucketedWrite(spark: org.apache.spark.sql.SparkSession,
      table: String, tmpTable: String,
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      re: DataFrame): Unit = {
    val spec = meta.bucketSpec.get
    val nb = spec.numBuckets
    val bCols = spec.bucketColumnNames
    val sCols = spec.sortColumnNames
    val pCols = meta.partitionColumnNames
    val provider = meta.provider.getOrElse("parquet")
    val external = meta.tableType ==
      org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL
    // Hive-partitioned + bucketed (the standard date-partitioned,
    // key-bucketed fact layout): the same exchange-free mechanics hold —
    // the bucketed scan reads each bucket's files ACROSS partitions as
    // one task, and the writer opens one file per (hive partition,
    // bucket) that task holds, so the rewrite lands exactly one file per
    // bucket in every partition directory with no Exchange. partitionBy
    // rides along on the writer and in the recovery DDL.
    def bucketWriter(w0: org.apache.spark.sql.DataFrameWriter[
        org.apache.spark.sql.Row]) = {
      val wp = if (pCols.nonEmpty) w0.partitionBy(pCols: _*) else w0
      val w = wp.bucketBy(nb, bCols.head, bCols.tail: _*)
      if (sCols.nonEmpty) w.sortBy(sCols.head, sCols.tail: _*) else w
    }
    if (external) {
      val loc = meta.location.toString.stripSuffix("/")
      val tmpLoc = s"${loc}__graft_cmp"
      val fs = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(tmpLoc)))
        fs.delete(new org.apache.hadoop.fs.Path(tmpLoc), true)
      bucketWriter(re.write.mode(SaveMode.Overwrite).format(provider)
        .option("path", tmpLoc))
        .saveAsTable(tmpTable) // fully materialized before any drop
      // Recovery DDL travels WITH the compacted copy (and renames into
      // place with it): every crash state past this point has a complete
      // data copy on disk next to the file that re-creates its catalog
      // entry — compactBucketedRecover needs nothing else.
      writeBucketSpec(fs, new org.apache.hadoop.fs.Path(tmpLoc), table,
        provider, nb, bCols, sCols, meta.schema.toDDL, loc, pCols)
      spark.sql(s"drop table $tmpTable")  // external drop keeps the files
      spark.sql(s"drop table $table")
      // FIRST destructive step: remove the old location's _bucketspec (a
      // previous compaction's recovery DDL). A crash mid-way through the
      // recursive delete below would otherwise leave loc with a VALID
      // stale spec over partially-deleted data — and a recovery that
      // trusted it would re-create the table over partial data while
      // deleting the only complete copy at tmpLoc. With the spec gone
      // first (and recovery preferring the tmp copy whenever both specs
      // exist — belt and braces), every crash state rolls forward from
      // the complete copy.
      val oldSpec = new org.apache.hadoop.fs.Path(loc, "_bucketspec")
      if (fs.exists(oldSpec))
        require(fs.delete(oldSpec, false),
          s"failed to remove stale recovery spec $oldSpec (complete " +
            s"compacted copy intact at $tmpLoc)")
      require(fs.delete(new org.apache.hadoop.fs.Path(loc), true),
        s"failed to delete old bucketed data at $loc (complete compacted " +
          s"copy intact at $tmpLoc)")
      require(fs.rename(new org.apache.hadoop.fs.Path(tmpLoc),
        new org.apache.hadoop.fs.Path(loc)),
        s"failed to move compacted data from $tmpLoc to $loc")
      createBucketedTable(spark, table, meta.schema.toDDL, provider,
        nb, bCols, sCols, loc, pCols)
    } else {
      bucketWriter(re.write.mode(SaveMode.Overwrite).format(provider))
        .saveAsTable(tmpTable) // fully materialized before any drop
      spark.sql(s"drop table $table")
      spark.sql(s"alter table $tmpTable rename to $table")
    }
  }

  /** Re-create a bucketed external table's catalog entry over data
    * already at `loc`, and — for partitioned layouts — re-register its
    * partition directories (a fresh catalog entry starts with an empty
    * partition list; without RECOVER PARTITIONS the table would read
    * back empty). */
  private def createBucketedTable(spark: org.apache.spark.sql.SparkSession,
      table: String, schemaDdl: String, provider: String, nb: Int,
      bCols: Seq[String], sCols: Seq[String], loc: String,
      pCols: Seq[String]): Unit = {
    val sorted =
      if (sCols.isEmpty) "" else s" SORTED BY (${sCols.mkString(", ")})"
    val partitioned =
      if (pCols.isEmpty) "" else s" PARTITIONED BY (${pCols.mkString(", ")})"
    spark.sql(s"CREATE TABLE $table ($schemaDdl) USING $provider" +
      partitioned +
      s" CLUSTERED BY (${bCols.mkString(", ")})$sorted " +
      s"INTO $nb BUCKETS LOCATION '$loc'")
    if (pCols.nonEmpty)
      spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
  }

  /** Persist a bucketed table's full recovery DDL next to its data
    * (underscore-prefixed — invisible to readers). Line format, schema
    * DDL last (it contains commas). */
  private def writeBucketSpec(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, table: String, provider: String,
      nb: Int, bCols: Seq[String], sCols: Seq[String], schemaDdl: String,
      loc: String, pCols: Seq[String]): Unit = {
    val body = (Seq("graft-bucketspec v1", s"table $table",
      s"provider $provider", s"numBuckets $nb", s"location $loc") ++
      bCols.map("bucketCol " + _) ++ sCols.map("sortCol " + _) ++
      pCols.map("partCol " + _) ++
      Seq(s"schema $schemaDdl")).mkString("\n") + "\n"
    val tmp = new org.apache.hadoop.fs.Path(dir, ".bucketspec.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val dst = new org.apache.hadoop.fs.Path(dir, "_bucketspec")
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"failed to write bucket spec $dst")
  }

  private final case class BucketSpecFile(table: String, provider: String,
      nb: Int, bCols: Seq[String], sCols: Seq[String], schema: String,
      pCols: Seq[String])

  private def readBucketSpec(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[BucketSpecFile] = {
    val p = new org.apache.hadoop.fs.Path(dir, "_bucketspec")
    if (!fs.exists(p)) return None
    val lines = readSmallFile(fs, p).split("\n", -1).toSeq
    def one(prefix: String) = lines.find(_.startsWith(prefix + " "))
      .map(_.stripPrefix(prefix + " "))
    for {
      _ <- lines.headOption.filter(_.startsWith("graft-bucketspec"))
      table <- one("table")
      provider <- one("provider")
      nb <- one("numBuckets").flatMap(s => scala.util.Try(s.toInt).toOption)
      schema <- one("schema")
    } yield BucketSpecFile(table, provider, nb,
      lines.filter(_.startsWith("bucketCol ")).map(_.stripPrefix("bucketCol ")),
      lines.filter(_.startsWith("sortCol ")).map(_.stripPrefix("sortCol ")),
      schema,
      lines.filter(_.startsWith("partCol ")).map(_.stripPrefix("partCol ")))
  }

  /** Finish or roll back a [[compactBucketed]] swap a crash interrupted.
    * Safe to run any time (no-op on a healthy table). Rules, in order:
    *   - the TABLE still exists in the catalog → the swap never
    *     committed: any `__graft_cmp` remnants (catalog entry, data
    *     directory) roll BACK — the live table was never touched
    *     destructively while its entry existed;
    *   - the table is gone but a complete compacted copy exists (at the
    *     original location, or still at `<path>__graft_cmp`) → roll
    *     FORWARD from the `_bucketspec` recovery DDL persisted with the
    *     copy: move the copy into place if needed and re-create the
    *     catalog entry;
    *   - managed tables: the table is gone but `<table>__graft_cmp`
    *     exists in the catalog → the rename never ran; finish it.
    * `path` is the external table's data location (ignored for managed
    * recovery). */
  def compactBucketedRecover(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String = ""): Unit = {
    val tmpTable = s"${table}__graft_cmp"
    val hasTable = spark.catalog.tableExists(table)
    if (hasTable) {
      spark.sql(s"drop table if exists $tmpTable")
      if (path.nonEmpty) {
        val loc = path.stripSuffix("/")
        val fs = new org.apache.hadoop.fs.Path(loc)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tmpLoc = new org.apache.hadoop.fs.Path(s"${loc}__graft_cmp")
        if (fs.exists(tmpLoc)) fs.delete(tmpLoc, true)
      }
      return
    }
    if (spark.catalog.tableExists(tmpTable)) {
      // Managed swap: the compacted copy is the tmp TABLE itself.
      spark.sql(s"alter table $tmpTable rename to $table")
      return
    }
    require(path.nonEmpty,
      s"$table is not in the catalog and no path was given — cannot " +
        "locate the external copy to recover from")
    val loc = path.stripSuffix("/")
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val locP = new org.apache.hadoop.fs.Path(loc)
    val tmpLocP = new org.apache.hadoop.fs.Path(s"${loc}__graft_cmp")
    val specAtLoc = readBucketSpec(fs, locP).filter(_.table == table)
    val specAtTmp = readBucketSpec(fs, tmpLocP).filter(_.table == table)
    (specAtLoc, specAtTmp) match {
      case (_, Some(s)) =>
        // A spec at the TMP location means a complete compacted copy is
        // sitting there (the spec is written only after the copy fully
        // materializes) — always roll FORWARD from it, even when loc
        // carries a spec too: loc's spec can only be a STALE survivor of
        // a crash mid-way through the destructive delete (partial data
        // under a valid-looking spec — the one state that must never
        // win; the write path also deletes loc's spec before deleting
        // its data, so this arm is defense in depth).
        if (fs.exists(locP))
          require(fs.delete(locP, true),
            s"failed to delete old bucketed data at $loc during recovery")
        require(fs.rename(tmpLocP, locP),
          s"failed to move compacted data from $tmpLocP to $loc")
        createBucketedTable(spark, table, s.schema, s.provider, s.nb,
          s.bCols, s.sCols, loc, s.pCols)
      case (Some(s), None) =>
        // Copy already in place (crash after the rename, before CREATE):
        // re-create the catalog entry over it.
        if (fs.exists(tmpLocP)) fs.delete(tmpLocP, true)
        createBucketedTable(spark, table, s.schema, s.provider, s.nb,
          s.bCols, s.sCols, loc, s.pCols)
      case _ =>
        throw new IllegalStateException(
          s"no recovery spec for $table at $loc or ${loc}__graft_cmp — " +
            "nothing to recover from (was the table ever compacted with " +
            "compactBucketed?)")
    }
  }

  /** [[bucketed]] with the files at an explicit `path` (external table):
    * the bucketing metadata lives in the catalog entry, the data lives
    * where the caller says — the layout an index checkpoint needs, where
    * the path (not the warehouse) is the durable artifact and a later
    * session re-registers the same files under a fresh catalog. */
  def bucketedExternal(df: DataFrame, table: String, path: String,
      bucketCol: String, numBuckets: Int, sortCols: String*): Unit = {
    val spark = df.sparkSession
    // Dropping an EXTERNAL table leaves its files; clear the location
    // explicitly so a re-save never mixes stale part-files into the new
    // table (overwrite semantics must hold at the path, not just the
    // catalog entry).
    spark.sql(s"drop table if exists $table")
    val hpath = new org.apache.hadoop.fs.Path(path)
    val fs = hpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hpath)) fs.delete(hpath, true)
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path).bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
    // Drop any relation/file-listing cache entry primed during the CTAS
    // itself: a later reader served a listing snapshot taken mid-write
    // would silently miss files (defense-in-depth next to the load-time
    // footer validation — see [[validateOwn]]).
    spark.catalog.refreshTable(table)
  }
}
