package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Ingest

class SourcesSpec extends SparkSpecBase {

  test("csv ingest: header + inferred schema like the reference's read_csv") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "t.csv")
    Files.writeString(f.toPath,
      "id,name,price\n1,widget,9.5\n2,gadget,12.25\n3,doohickey,0.5\n")
    val df = Ingest.csv(spark, f.getPath)
    assert(df.columns.toSeq == Seq("id", "name", "price"))
    assert(df.schema("id").dataType.simpleString == "int")
    assert(df.schema("price").dataType.simpleString == "double")
    // registered + queryable through the Engine surface
    Engine.registerTempTable(df, "csv_t")
    assert(Engine.query(spark, "select sum(price) as s from csv_t")
      .head().getDouble(0) == 22.25)
    Engine.removeTempTable(spark, "csv_t")
  }

  test("partitioned sink: filters on partition columns become pruning") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_part").toFile.getPath + "/t"
    val df = (1 to 100).map(i => (i.toLong, s"flag${i % 4}", i * 1.5))
      .toDF("id", "flag", "v")
    graft.sources.Sink.partitioned(df, dir, "flag")

    val back = spark.read.parquet(dir).where(col("flag") === "flag1")
    assert(back.count() == 25)
    // The partition filter must be applied at file-listing time, not as a
    // row-level data filter.
    val scan = back.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("flag"))
    // Only the matching directory's files are read.
    val files = back.queryExecution.executedPlan.collectLeaves().head match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files).map(_.getPath.toString)
    }
    assert(files.nonEmpty && files.forall(_.contains("flag=flag1")))
  }

  test("bucketed sink: co-located equi-join plans with no Exchange") {
    import spark.implicits._
    val facts = (1 to 2000).map(i => (i.toLong % 97, i.toLong, i * 2.0))
      .toDF("k", "fid", "v")
    val dims = (0 to 96).map(i => (i.toLong, s"name$i")).toDF("k", "name")
    graft.sources.Sink.bucketed(facts, "bkt_facts", "k", 8, "k")
    graft.sources.Sink.bucketed(dims, "bkt_dims", "k", 8, "k")
    // Disable broadcast so the join actually exercises the bucketing (a
    // broadcast join would hide a missing co-location).
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bkt_facts").join(spark.table("bkt_dims"), "k")
      assert(j.count() == 2000)
      val plan = j.queryExecution.executedPlan.toString
      // The write-time shuffle is the only one: the join reads both sides
      // bucket-aligned.
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("drop table if exists bkt_facts")
      spark.sql("drop table if exists bkt_dims")
    }
  }

  test("json ingest round-trips") {
    val dir = Files.createTempDirectory("graft_json").toFile
    val f = new java.io.File(dir, "t.json")
    Files.writeString(f.toPath,
      """{"id":1,"v":"a"}
        |{"id":2,"v":"b"}
        |""".stripMargin)
    val df = Ingest.json(spark, f.getPath)
    assert(df.count() == 2)
    assert(df.select(max("id")).head().getLong(0) == 2)
  }

  test("registerDir binds every parquet table in a directory") {
    // Own directory — re-registering the shared testdata views here would
    // clobber Tables.ensure's converted `events` view for other suites.
    val dir = Files.createTempDirectory("graft_regdir").toFile
    Files.copy(new java.io.File(s"$sfDir/region.parquet").toPath,
      new java.io.File(dir, "region_copy.parquet").toPath)
    val names = Ingest.registerDir(spark, dir.getPath)
    assert(names == Seq("region_copy"))
    assert(spark.table("region_copy").count() == 5)
    Engine.removeTempTable(spark, "region_copy")
  }

  test("graft_dot is callable from SQL after registration") {
    Tables.ensure(spark, sfDir) // registers functions
    val got = Engine.query(spark,
      "select graft_dot(array(cast(1 as double), cast(2 as double)), " +
        "array(cast(3 as double), cast(4 as double))) as d")
      .head().getDouble(0)
    assert(got == 11.0)
  }

  test("sharded sink: every shard holds at most rowsPerFile rows, nothing lost") {
    import spark.implicits._
    val df = spark.range(1000).select(col("id"))
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    graft.sources.Sink.sharded(df.repartition(2), dir, rowsPerFile = 100)
    val parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length >= 10, s"expected >= 10 shards, got ${parts.length}")
    val counts = parts.map(p =>
      spark.read.parquet(p.getPath).count())
    assert(counts.forall(_ <= 100), s"oversized shard: ${counts.toSeq}")
    assert(counts.sum == 1000)
    assert(spark.read.parquet(dir).as[Long].collect().toSet ==
      (0L until 1000L).toSet)
  }

  test("orc ingest/sink round-trips with partition pruning") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("orc").toString + "/t"
    val df = (1 to 100).map(i => (i.toLong, s"flag${i % 4}", i * 1.5))
      .toDF("id", "flag", "v")
    graft.sources.Sink.partitionedOrc(df, dir, "flag")
    val back = Ingest.orc(spark, dir).where(col("flag") === "flag2")
    assert(back.count() == 25)
    val scan = back.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("flag"))
  }

  test("text ingest: line-per-row and file-per-doc shapes") {
    val dir = java.nio.file.Files.createTempDirectory("txt").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, "a.txt").toPath, "alpha line one\nalpha two\n")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "b.txt").toPath, "beta solo\n")
    assert(Ingest.textLines(spark, dir.getPath).count() == 3)
    val docs = Ingest.textFiles(spark, dir.getPath)
      .collect().map(r => (r.getString(0).split('/').last, r.getString(1)))
      .toMap
    assert(docs.keySet == Set("a.txt", "b.txt"))
    assert(docs("a.txt").contains("alpha line one\nalpha two"))
  }

  test("binaryFiles ingest: opaque payloads, glob at listing, size cap") {
    val dir = java.nio.file.Files.createTempDirectory("bin").toFile
    java.nio.file.Files.write(new java.io.File(dir, "x.bin").toPath,
      Array.tabulate[Byte](64)(_.toByte))
    java.nio.file.Files.write(new java.io.File(dir, "big.bin").toPath,
      Array.fill[Byte](4096)(7))
    java.nio.file.Files.writeString(
      new java.io.File(dir, "skip.txt").toPath, "not binary payload")
    val all = Ingest.binaryFiles(spark, dir.getPath, glob = Some("*.bin"))
    assert(all.count() == 2)
    val small = Ingest.binaryFiles(spark, dir.getPath,
      glob = Some("*.bin"), maxBytes = Some(1024L))
    val rows = small.collect()
    assert(rows.length == 1 &&
      rows(0).getAs[Array[Byte]]("content").length == 64)
  }

  test("compact: small-file leaves rewrite to the byte-target count, " +
      "content and pruning preserved, compact leaves untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cmp").toString + "/t"
    // Two partitions of tiny files (20 part-files each) + nothing else.
    val df = (1 to 400).map(i => (i.toLong, s"p${i % 2}", i * 1.1))
      .toDF("id", "p", "v")
    df.repartition(20).write.partitionBy("p").parquet(dir)
    def leafFiles(leaf: String) =
      Option(new java.io.File(s"$dir/$leaf").listFiles()).getOrElse(Array())
        .filter(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
    assert(leafFiles("p=p0").length == 20)
    val beforeRows = spark.read.parquet(dir).orderBy("id")
      .collect().map(_.toSeq).toSeq

    val stats = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30)
    assert(stats.leavesSeen == 2 && stats.leavesRewritten == 2)
    assert(stats.filesBefore == 40 && stats.filesAfter == 2)
    assert(leafFiles("p=p0").length == 1 && leafFiles("p=p1").length == 1)
    assert(spark.read.parquet(dir).orderBy("id")
      .collect().map(_.toSeq).toSeq == beforeRows,
      "compaction must not change a single row")
    // Partition pruning still works on the rewritten layout.
    val back = spark.read.parquet(dir).where(col("p") === "p0")
    assert(back.count() == 200)
    val scan = back.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"))

    // Idempotent: a second pass finds nothing to rewrite and leaves the
    // compacted files byte-identical in place.
    val names = leafFiles("p=p0").map(f => (f.getName, f.lastModified)).toSeq
    val again = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30)
    assert(again.leavesRewritten == 0 && again.filesAfter == 2)
    assert(leafFiles("p=p0").map(f =>
      (f.getName, f.lastModified)).toSeq == names,
      "an already-compact leaf must not be touched")
  }

  test("compact on the streaming export layout: nested b<id>/sh=<k> " +
      "leaves compact independently, batch replay semantics intact") {
    import spark.implicits._
    // The PackStream/idempotentBatchSharded landing shape: per-batch dirs,
    // per-shard hive split inside, many small files per shard (the
    // steady-state small-files problem Sink.compact exists for).
    val dir = java.nio.file.Files.createTempDirectory("cmpx").toString + "/ex"
    (0 until 3).foreach { b =>
      val df = (1 to 120).map(i =>
          (b * 1000L + i, i % 2L, s"payload $b $i"))
        .toDF("pack_id", "shard", "body").repartition(10)
      graft.sources.Sink.idempotentBatchSharded(df, dir, b.toLong,
        keyCol = "shard", sortCol = "pack_id")
    }
    val before = spark.read.option("recursiveFileLookup", "true").parquet(dir).orderBy("pack_id")
      .collect().map(_.toSeq).toSeq
    assert(before.size == 360)
    // parallelism > 1: concurrent leaf rewrites (Spark schedules the
    // per-leaf jobs from multiple threads) must produce the same result.
    val stats = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30, parallelism = 3)
    assert(stats.leavesSeen == 6, s"3 batches × 2 shards, got $stats")
    assert(stats.filesAfter == 6, s"one file per shard leaf, got $stats")
    assert(spark.read.option("recursiveFileLookup", "true").parquet(dir).orderBy("pack_id")
      .collect().map(_.toSeq).toSeq == before)
    // Batch replay (idempotent overwrite) still lands cleanly next to
    // compacted neighbors.
    val replay = (1 to 120).map(i =>
        (1000L + i, i % 2L, s"payload 1 $i"))
      .toDF("pack_id", "shard", "body").repartition(10)
    graft.sources.Sink.idempotentBatchSharded(replay, dir, 1L,
      keyCol = "shard", sortCol = "pack_id")
    assert(spark.read.option("recursiveFileLookup", "true").parquet(dir).orderBy("pack_id")
      .collect().map(_.toSeq).toSeq == before,
      "replayed batch must overwrite to the same content")
  }

  test("quarantined csv/jsonl: malformed rows land in bad with their " +
      "source file, counted — good rows parse clean, no task failure") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("quar").toFile
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("name", StringType), StructField("price", DoubleType)))
    Files.writeString(new java.io.File(dir, "a.csv").toPath,
      "id,name,price\n1,widget,9.5\n2,gadget\nnotanint,thing,1.0\n" +
        "3,doohickey,0.5\n")
    val q = Ingest.csvQuarantined(spark, new java.io.File(dir, "a.csv")
      .getPath, schema)
    assert(q.good.count() == 2 && q.badCount() == 2,
      s"good=${q.good.collect().toSeq} bad=${q.bad.collect().toSeq}")
    assert(q.good.columns.toSeq == Seq("id", "name", "price"))
    assert(q.bad.collect().forall(_.getString(0).endsWith("a.csv")))

    val jdir = Files.createTempDirectory("quarj").toFile
    Files.writeString(new java.io.File(jdir, "d.jsonl").toPath,
      """{"id":1,"name":"ok"}""" + "\n" +
        """{"id":2,"name":"trunc""" + "\n" + // truncated JSON object
        "not json at all\n" +
        """{"id":3,"name":"fine"}""" + "\n")
    val jq = Ingest.jsonlQuarantined(spark, jdir.getPath,
      StructType(Seq(StructField("id", LongType),
        StructField("name", StringType))))
    assert(jq.good.count() == 2 && jq.badCount() == 2,
      s"good=${jq.good.collect().toSeq} bad=${jq.bad.collect().toSeq}")
  }

  test("quarantined text: invalid UTF-8 quarantines by row (lines) or by " +
      "document (files); a truncated gzip ingests its decodable prefix " +
      "instead of failing the task") {
    val dir = Files.createTempDirectory("quart").toFile
    // Valid line, then a line with an invalid UTF-8 byte sequence.
    val out = new java.io.FileOutputStream(new java.io.File(dir, "m.txt"))
    out.write("clean line one\n".getBytes("UTF-8"))
    out.write(Array[Byte]('b', 'a', 'd', ' ', 0xFF.toByte, 0xFE.toByte,
      ' ', 'x', '\n'))
    out.write("clean line two\n".getBytes("UTF-8"))
    out.close()
    val tq = Ingest.textLinesQuarantined(spark, dir.getPath)
    assert(tq.good.count() == 2 && tq.badCount() == 1)
    assert(tq.bad.head().getString(1).contains("�"))

    // Document grain: the poisoned file quarantines whole.
    val fq = Ingest.textFilesQuarantined(spark, dir.getPath)
    assert(fq.good.count() == 0 && fq.badCount() == 1,
      "one file carrying any invalid bytes quarantines as one bad row")

    // Truncated gzip: decodable prefix survives, no task failure.
    val gzdir = Files.createTempDirectory("quarg").toFile
    val baos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(baos)
    gz.write((1 to 200).map(i => s"line $i").mkString("\n").getBytes("UTF-8"))
    gz.close()
    val bytes = baos.toByteArray
    Files.write(new java.io.File(gzdir, "t.txt.gz").toPath,
      bytes.take(bytes.length / 2)) // truncate mid-stream
    val gq = Ingest.textLinesQuarantined(spark, gzdir.getPath)
    val survived = gq.good.count() // must not throw
    assert(survived < 200, s"a truncated stream cannot yield all rows")
  }

  test("compact: a file landing mid-rewrite aborts the swap — nothing " +
      "lost, the next pass compacts the grown leaf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cmpw").toString + "/t"
    (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .repartition(10).write.parquet(dir)
    // A writer lands one more file in the leaf AFTER the compacted copy
    // is complete but BEFORE the swap — the window where the old
    // delete+rename would have destroyed it.
    val late = (101 to 110).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    val stats = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30,
      afterCopy = leaf => {
        val tmp = java.nio.file.Files
          .createTempDirectory("cmpwl").toString + "/one"
        late.coalesce(1).write.parquet(tmp)
        val f = new java.io.File(tmp).listFiles()
          .filter(x => x.isFile && x.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(leaf.toString.stripPrefix("file:"),
            "late-arrival.parquet").toPath)
      })
    assert(stats.leavesAborted == 1 && stats.leavesRewritten == 0,
      s"swap must abort when the leaf changed mid-rewrite, got $stats")
    // Every row survives: the 100 originals AND the late arrival.
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet ==
      (1L to 110L).toSet)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".cmp_tmp_")),
      "aborted copy must be cleaned up")
    // The next pass (stable file set) compacts originals + late arrival.
    val again = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30)
    assert(again.leavesRewritten == 1 && again.filesAfter == 1 &&
      again.leavesAborted == 0)
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet ==
      (1L to 110L).toSet)
  }

  test("compact: a mixed directory (files + visible subdirs) is never a " +
      "rewrite target; pure child leaves still compact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cmpm").toString + "/t"
    // Root holds loose data files AND a partition-style subdir — the
    // layout a rewrite would flatten (subtree read + recursive delete).
    (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .repartition(5).write.parquet(dir)
    (51 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .repartition(5).write.parquet(s"$dir/extra")
    def names(d: String) = Option(new java.io.File(d).listFiles())
      .getOrElse(Array()).filter(f => f.isFile &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.getName).toSet
    val rootBefore = names(dir)
    val stats = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30)
    // Only the pure child leaf rewrote; the mixed root's files are
    // byte-for-byte where they were.
    assert(stats.leavesSeen == 1 && stats.leavesRewritten == 1,
      s"mixed root must be excluded, got $stats")
    assert(names(dir) == rootBefore, "mixed-leaf files must be untouched")
    assert(names(s"$dir/extra").size == 1)
    assert(spark.read.parquet(s"$dir/extra").count() == 50)
  }

  test("compact: crash recovery — a complete copy swaps in, an incomplete " +
      "one rolls back to the old leaf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cmpr").toString + "/t"
    val df = (1 to 100).map(i => (i.toLong, s"p${i % 2}")).toDF("id", "p")
    df.repartition(5).write.partitionBy("p").parquet(dir)

    // Crash shape 1: copy complete (_SUCCESS), old leaf already deleted.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$dir/p=p0").coalesce(1)
      .write.parquet(s"$dir/.cmp_tmp_p=p0")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/p=p0"), true)
    // Crash shape 2: copy INCOMPLETE (no _SUCCESS), old leaf intact.
    spark.read.parquet(s"$dir/p=p1").coalesce(1)
      .write.parquet(s"$dir/.cmp_tmp_p=p1")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/.cmp_tmp_p=p1/_SUCCESS"), false)

    val stats = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30)
    // p=p0 was finished by recovery (1 file, nothing to rewrite);
    // p=p1 rolled back to its 5 small files, then compacted normally.
    assert(spark.read.parquet(dir).count() == 100)
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet ==
      (1L to 100L).toSet)
    assert(stats.filesAfter == 2)
    assert(!new java.io.File(s"$dir/.cmp_tmp_p=p0").exists &&
      !new java.io.File(s"$dir/.cmp_tmp_p=p1").exists,
      "no tmp remnants may survive recovery")
  }

  // ───────── manifest-committed compaction (round 15) ─────────────────────

  private def visibleNames(d: String): Set[String] =
    Option(new java.io.File(d).listFiles()).getOrElse(Array())
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .map(_.getName).toSet

  test("commitModeFor: auto is manifest exactly where rename is a copy") {
    import graft.sources.Sink
    for (s <- Seq("s3a", "gs", "wasbs", "oss"))
      assert(Sink.commitModeFor(spark, s, "auto") == "manifest", s)
    for (s <- Seq("file", "hdfs", null))
      assert(Sink.commitModeFor(spark, s, "auto") == "rename", s"$s")
    // Explicit modes pass through; the set is conf-extendable.
    assert(Sink.commitModeFor(spark, "hdfs", "manifest") == "manifest")
    assert(Sink.commitModeFor(spark, "s3a", "rename") == "rename")
    spark.conf.set(Sink.NonAtomicSchemesKey, "nacopy, weirdfs")
    try {
      assert(Sink.commitModeFor(spark, "nacopy", "auto") == "manifest")
      assert(Sink.commitModeFor(spark, "weirdfs", "auto") == "manifest")
    } finally spark.conf.unset(Sink.NonAtomicSchemesKey)
    intercept[IllegalArgumentException] {
      Sink.commitModeFor(spark, "file", "bogus")
    }
  }

  test("compact commit=manifest: one-file commit — content exact through " +
      "readCompacted AND plain read at rest, pruning intact, idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cmf").toString + "/t"
    val df = (1 to 400).map(i => (i.toLong, s"p${i % 2}", i * 1.1))
      .toDF("id", "p", "v")
    df.repartition(20).write.partitionBy("p").parquet(dir)
    val before = spark.read.parquet(dir).orderBy("id")
      .collect().map(_.toSeq).toSeq
    val stats = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30, commit = "manifest")
    assert(stats.leavesRewritten == 2 && stats.filesBefore == 40 &&
      stats.filesAfter == 2, s"got $stats")
    // At rest: replaced files gone, one cmpg file + one manifest per leaf.
    for (leaf <- Seq("p=p0", "p=p1")) {
      val names = visibleNames(s"$dir/$leaf")
      assert(names.size == 1 && names.head.startsWith("cmpg-1-"), s"$names")
      assert(new java.io.File(s"$dir/$leaf/_manifest.1").exists())
    }
    // Both read paths agree with the original content.
    assert(spark.read.parquet(dir).orderBy("id")
      .collect().map(_.toSeq).toSeq == before)
    val rc = graft.sources.Sink.readCompacted(spark, dir)
    assert(rc.orderBy("id").collect().map(_.toSeq).toSeq == before)
    // Hive partition columns survive readCompacted's explicit-file load.
    assert(rc.where(col("p") === "p0").count() == 200)
    // Idempotent second pass: resolved single file ≤ target → untouched,
    // manifest gen stays at 1.
    val again = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30, commit = "manifest")
    assert(again.leavesRewritten == 0 && again.filesAfter == 2)
    assert(new java.io.File(s"$dir/p=p0/_manifest.1").exists() &&
      !new java.io.File(s"$dir/p=p0/_manifest.2").exists())
    // A later writer-landed straggler is visible to readCompacted and
    // folded in by the next compaction generation.
    (401 to 410).map(i => (i.toLong, i * 1.1)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/.strag")
    val part = new java.io.File(s"$dir/.strag").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(s"$dir/p=p0/late-arrival.parquet").toPath)
    assert(graft.sources.Sink.readCompacted(spark, dir).count() == 410)
    val third = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30, commit = "manifest")
    assert(third.leavesRewritten == 1)
    assert(new java.io.File(s"$dir/p=p0/_manifest.2").exists() &&
      !new java.io.File(s"$dir/p=p0/_manifest.1").exists())
    assert(graft.sources.Sink.readCompacted(spark, dir).count() == 410)
    assert(spark.read.parquet(dir).count() == 410)
  }

  test("manifest torn states: pre-commit rolls back, post-commit rolls " +
      "forward — readCompacted is exact in every state, recover converges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cmt").toString + "/t"
    (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .repartition(4).write.parquet(dir)
    val origNames = visibleNames(dir)
    // Collect as a sorted SEQ, not a set: the reader's contract is "never
    // doubled", and a set compare would mask duplicate rows.
    def ids() = graft.sources.Sink.readCompacted(spark, dir)
      .select("id").as[Long].collect().toSeq.sorted

    // STATE A — crash between move-in and commit: uncommitted cmpg files
    // sit next to the originals, no manifest. Readers must see ONLY the
    // originals; recovery rolls the move-ins back.
    spark.read.parquet(dir).coalesce(1)
      .write.parquet(s"$dir/.stage")
    val staged = new java.io.File(s"$dir/.stage").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(staged.toPath,
      new java.io.File(dir, "cmpg-1-part-00000.parquet").toPath)
    assert(ids() == (1L to 100L).toSeq,
      "uncommitted move-ins must be invisible to readCompacted")
    graft.sources.Sink.compactRecover(spark, dir)
    assert(visibleNames(dir) == origNames,
      "recovery must roll uncommitted move-ins back")
    assert(spark.read.parquet(dir).count() == 100)

    // STATE B — crash between commit and the post-commit deletes: cmpg
    // files + manifest + the replaced originals all present. readCompacted
    // resolves the NEW content exactly (a plain directory read would
    // double-count — the documented out-of-contract race); recovery
    // finishes the deletes.
    java.nio.file.Files.copy(staged.toPath,
      new java.io.File(dir, "cmpg-1-part-00000.parquet").toPath)
    val manifest = (Seq("graft-manifest v1", "gen 1",
      "f cmpg-1-part-00000.parquet") ++
      origNames.toSeq.sorted.map("r " + _)).mkString("\n") + "\n"
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_manifest.1").toPath, manifest)
    assert(ids() == (1L to 100L).toSeq,
      "post-commit reader must resolve exactly the new file set")
    assert(spark.read.parquet(dir).count() == 200,
      "plain read in the torn window double-counts (why readers resolve " +
        "through the manifest)")
    graft.sources.Sink.compactRecover(spark, dir)
    assert(visibleNames(dir) == Set("cmpg-1-part-00000.parquet"),
      "recovery must finish the replaced-file deletes")
    assert(spark.read.parquet(dir).count() == 100)
    assert(ids() == (1L to 100L).toSeq)

    // STATE C — a torn (half-written) manifest above the committed one:
    // readers fall back to gen 1; recovery discards the torn commit.
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_manifest.2").toPath, "graft-manifest v1\nge")
    assert(ids() == (1L to 100L).toSeq)
    graft.sources.Sink.compactRecover(spark, dir)
    assert(!new java.io.File(dir, "_manifest.2").exists() &&
      new java.io.File(dir, "_manifest.1").exists())
    assert(ids() == (1L to 100L).toSeq)
  }

  test("manifest commit: a reader through readCompacted racing the swap " +
      "sees the old snapshot exactly; the concurrent-change guard and the " +
      "mtime overwrite guard still abort") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cmr").toString + "/t"
    (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .repartition(10).write.parquet(dir)
    val before = (1L to 100L).toSet
    // Reader inside the swap window (copy complete, commit not yet): must
    // see the OLD snapshot exactly — no partial, no double.
    var sawDuringSwap: Set[Long] = Set.empty
    val st = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30, commit = "manifest",
      afterCopy = _ => sawDuringSwap = graft.sources.Sink
        .readCompacted(spark, dir).select("id").as[Long].collect().toSet)
    assert(st.leavesRewritten == 1 && sawDuringSwap == before)
    assert(graft.sources.Sink.readCompacted(spark, dir)
      .select("id").as[Long].collect().toSet == before)

    // Same-name same-size in-place overwrite between snapshot and guard:
    // the mtime term must catch it and abort (nothing deleted, no commit).
    // Fresh multi-file leaf — only leaves with more files than the byte
    // target ever enter the swap.
    val dir2 = java.nio.file.Files.createTempDirectory("cmr2").toString + "/t"
    (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .repartition(10).write.parquet(dir2)
    val target = new java.io.File(dir2).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val st2 = graft.sources.Sink.compact(spark, dir2,
      targetBytesPerFile = 1L << 30, commit = "manifest",
      afterCopy = _ => {
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sparkContext.hadoopConfiguration)
        fs.setTimes(new org.apache.hadoop.fs.Path(target.getPath),
          target.lastModified() + 30000L, -1L)
      })
    assert(st2.leavesAborted == 1 && st2.leavesRewritten == 0,
      s"mtime-only change must abort the swap, got $st2")
    assert(graft.sources.Sink.readCompacted(spark, dir2)
      .select("id").as[Long].collect().toSet == before)
    assert(!new java.io.File(dir2, "_manifest.1").exists(),
      "aborted swap must not commit")
  }

  test("copy-rename filesystem (object-store rename semantics): auto " +
      "resolves to manifest and the full compact+read cycle is exact " +
      "without rename atomicity") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.nacopy.impl",
      classOf[graft.tools.CopyRenameFileSystem].getName)
    spark.conf.set(graft.sources.Sink.NonAtomicSchemesKey, "nacopy")
    try {
      val local = java.nio.file.Files.createTempDirectory("cmnac").toString
      val dir = s"nacopy://$local/t"
      val df = (1 to 300).map(i => (i.toLong, s"p${i % 3}", i * 1.5))
        .toDF("id", "p", "v")
      df.repartition(8).write.partitionBy("p").parquet(dir)
      val before = spark.read.parquet(dir).orderBy("id")
        .collect().map(_.toSeq).toSeq
      val stats = graft.sources.Sink.compact(spark, dir,
        targetBytesPerFile = 1L << 30) // commit = auto → manifest
      assert(stats.leavesRewritten == 3, s"got $stats")
      for (leaf <- Seq("p=p0", "p=p1", "p=p2"))
        assert(new java.io.File(s"$local/t/$leaf/_manifest.1").exists(),
          s"auto on a copy-rename scheme must take the manifest commit " +
            s"($leaf)")
      assert(graft.sources.Sink.readCompacted(spark, dir).orderBy("id")
        .collect().map(_.toSeq).toSeq == before)
      assert(spark.read.parquet(dir).orderBy("id")
        .collect().map(_.toSeq).toSeq == before)
      // Recovery runs clean through the copy-rename FS too.
      graft.sources.Sink.compactRecover(spark, dir)
      assert(graft.sources.Sink.readCompacted(spark, dir).count() == 300)
    } finally {
      spark.conf.unset(graft.sources.Sink.NonAtomicSchemesKey)
      hconf.unset("fs.nacopy.impl")
    }
  }

  test("columnar quarantine: a truncated parquet footer, a truncated ORC " +
      "tail and zero-byte files land counted in badFiles; good scans " +
      "exactly the validated set with partition columns intact — no task " +
      "failure, no silent skip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("colq").toString + "/t"
    // Partitioned layout: quarantine must resolve hive partition columns
    // for the good files (basePath) — the shape a real lake has.
    (1 to 100).map(i => (i.toLong, s"p${i % 2}")).toDF("id", "p")
      .repartition(2).write.partitionBy("p").parquet(dir)
    def poison(leaf: String): Unit = {
      val good = new java.io.File(s"$dir/$leaf").listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
      val bytes = java.nio.file.Files.readAllBytes(good.toPath)
      java.nio.file.Files.write(
        new java.io.File(s"$dir/$leaf/truncated.parquet").toPath,
        bytes.take(bytes.length / 2))
      java.nio.file.Files.write(
        new java.io.File(s"$dir/$leaf/empty.parquet").toPath,
        Array.empty[Byte])
    }
    poison("p=p0")
    poison("p=p1")
    // A plain read would now fail the job on the first bad footer; the
    // quarantined read must not.
    val q = Ingest.parquetQuarantined(spark, dir)
    assert(q.badFileCount() == 4 && q.goodFileCount == 4,
      s"bad=${q.badFiles.collect().toSeq}")
    assert(q.good.count() == 100, "good rows must be exactly the originals")
    assert(q.good.where(col("p") === "p0").count() == 50,
      "partition columns must survive the explicit-file load")
    assert(q.badFiles.collect().forall(r => r.getString(2).nonEmpty),
      "every bad file carries its error")
    // One-pass probe (round 17): the distributed footer sweep runs ONCE
    // and only the BAD set — exceptional-sized by contract — comes back
    // to the driver; badFiles, the counts, and the good set all derive
    // from that single pass, so repeated badFiles actions must not
    // re-run the sweep (it was 2-3 footer reads per load before).
    assert(q.badFiles.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty, "badFiles must be the collected (exceptional-sized) bad " +
      "set, not a lazy re-probe")

    // ORC: same contract — note a zero-byte ORC file is READABLE as a
    // valid empty file by the ORC library (the Hive convention), so the
    // probe poisons zero bytes by POLICY, not by parse failure.
    val odir = java.nio.file.Files.createTempDirectory("colqo")
      .toString + "/t"
    (1 to 50).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
      .coalesce(1).write.orc(odir)
    val ogood = new java.io.File(odir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".orc")).head
    val obytes = java.nio.file.Files.readAllBytes(ogood.toPath)
    java.nio.file.Files.write(
      new java.io.File(odir, "truncated.orc").toPath,
      obytes.take(obytes.length / 2))
    java.nio.file.Files.write(new java.io.File(odir, "empty.orc").toPath,
      Array.empty[Byte])
    val oq = Ingest.orcQuarantined(spark, odir)
    assert(oq.badFileCount() == 2 && oq.goodFileCount == 1,
      s"bad=${oq.badFiles.collect().toSeq}")
    assert(oq.good.count() == 50)
  }

  test("columnar quarantine on a NESTED non-k=v layout: the good scan " +
      "loads the explicit probed-good list, so files the probe counted " +
      "under nested non-hive directories are actually read — a plain " +
      "directory read would keep only the root's direct children and " +
      "silently lose every nested file") {
    import spark.implicits._
    // The export-tree shape: `b<id>/` batch dirs (NOT k=v) under the
    // root, files nested one level down, plus one file at the root.
    val dir = java.nio.file.Files.createTempDirectory("colqn")
      .toString + "/t"
    (1 to 40).map(i => (i.toLong, "root")).toDF("id", "src")
      .coalesce(1).write.parquet(dir)
    (41 to 80).map(i => (i.toLong, "b1")).toDF("id", "src")
      .coalesce(1).write.parquet(s"$dir/b1")
    (81 to 120).map(i => (i.toLong, "b2")).toDF("id", "src")
      .coalesce(1).write.parquet(s"$dir/b2")
    // Poison one nested file so the quarantine path (not just the clean
    // path) is the one exercised.
    val victim = new java.io.File(s"$dir/b1").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val vb = java.nio.file.Files.readAllBytes(victim.toPath)
    java.nio.file.Files.write(
      new java.io.File(s"$dir/b2/trunc.parquet").toPath,
      vb.take(vb.length / 2))
    val q = Ingest.parquetQuarantined(spark, dir)
    assert(q.badFileCount() == 1 && q.goodFileCount == 3,
      s"bad=${q.badFiles.collect().toSeq}")
    assert(q.good.count() == 120,
      "nested non-k=v files must be READ, not just counted good " +
        s"(got ${q.good.count()})")
    assert(q.good.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("root" -> 40L, "b1" -> 40L, "b2" -> 40L))
    // Clean-probe path too: no corruption anywhere, nested files still
    // all read (the directory read would drop b1/b2 silently).
    val clean = java.nio.file.Files.createTempDirectory("colqc")
      .toString + "/t"
    (1 to 10).map(i => (i.toLong, "r")).toDF("id", "src")
      .coalesce(1).write.parquet(clean)
    (11 to 20).map(i => (i.toLong, "n")).toDF("id", "src")
      .coalesce(1).write.parquet(s"$clean/nested")
    val cq = Ingest.parquetQuarantined(spark, clean)
    assert(cq.badFileCount() == 0 && cq.good.count() == 20,
      s"clean nested read lost rows: ${cq.good.count()}")
  }

  test("compactBucketed: streamed appends fragment a bucketed table; " +
      "compaction re-bounds to one file per bucket at the SAME path and " +
      "the co-located join stays Exchange-free throughout") {
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("bktc").toString + "/f"
    def facts(lo: Int, hi: Int) = (lo to hi)
      .map(i => (i.toLong % 97, i.toLong, i * 2.0)).toDF("k", "fid", "v")
    val dims = (0 to 96).map(i => (i.toLong, s"name$i")).toDF("k", "name")
    graft.sources.Sink.bucketedExternal(facts(1, 500), "bktc_facts", loc,
      "k", 8, "k")
    graft.sources.Sink.bucketed(dims, "bktc_dims", "k", 8, "k")
    // Three streaming-shaped appends: each lands more files per bucket.
    (1 to 3).foreach { b =>
      facts(500 + b * 100 + 1, 500 + (b + 1) * 100)
        .write.mode(org.apache.spark.sql.SaveMode.Append).format("parquet")
        .bucketBy(8, "k").sortBy("k").saveAsTable("bktc_facts")
    }
    def dataFiles() = Option(new java.io.File(loc).listFiles())
      .getOrElse(Array()).filter(f => f.isFile &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(dataFiles().length > 8,
      s"appends must fragment the layout, got ${dataFiles().length} files")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def joined() = spark.table("bktc_facts")
        .join(spark.table("bktc_dims"), "k")
      val rowsBefore = joined().count()
      assert(!joined().queryExecution.executedPlan.toString
        .contains("Exchange"), "bucketed join must be exchange-free")
      val tableRows = spark.table("bktc_facts").orderBy("fid")
        .collect().map(_.toSeq).toSeq

      graft.sources.Sink.compactBucketed(spark, "bktc_facts")
      assert(dataFiles().length == 8,
        s"one file per bucket after compaction, got ${dataFiles().length}")
      assert(spark.table("bktc_facts").orderBy("fid")
        .collect().map(_.toSeq).toSeq == tableRows,
        "compaction must not change a single row")
      assert(joined().count() == rowsBefore)
      assert(!joined().queryExecution.executedPlan.toString
        .contains("Exchange"),
        "the exchange-free property must survive compaction")
      // The durable artifact stays at ITS path (bucketedExternal contract).
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("bktc_facts"))
      assert(meta.location.getPath.stripSuffix("/").endsWith("/f"))
      assert(meta.bucketSpec.exists(_.numBuckets == 8))

      // Managed tables compact through the catalog-rename swap.
      graft.sources.Sink.compactBucketed(spark, "bktc_dims")
      assert(joined().count() == rowsBefore)
      assert(!joined().queryExecution.executedPlan.toString
        .contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("drop table if exists bktc_facts")
      spark.sql("drop table if exists bktc_dims")
    }
  }

  test("zordered: multi-column data skipping — a predicate on EITHER " +
      "clustered column prunes most row groups; a single-column sort " +
      "only prunes its own") {
    // 256×256 uniform grid: the adversarial case for a single-column
    // sort (the second column spans its full range inside every file).
    val grid = spark.range(256L * 256L)
      .select((col("id") / 256).cast("long").as("x"),
        (col("id") % 256).cast("long").as("y"))
    val zdir = java.nio.file.Files.createTempDirectory("zord").toString + "/z"
    val xdir = java.nio.file.Files.createTempDirectory("zord").toString + "/x"
    graft.sources.Sink.zordered(grid, zdir, Seq("x", "y"), files = 64)
    grid.repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.parquet(xdir)

    def scannedRows(dir: String, c: String): Long = {
      val q = spark.read.parquet(dir).where(col(c) === 123L)
      assert(q.count() == 256, s"$dir/$c: wrong result")
      val d = spark.read.parquet(dir).where(col(c) === 123L)
      d.collect()
      val scan = d.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan.toString.contains("PushedFilters: [IsNotNull(" + c),
        "the predicate must reach the parquet scan")
      scan.metrics("numOutputRows").value
    }
    val total = 256L * 256L
    // The z layout prunes on BOTH dimensions: each of the 64 files covers
    // a ~32×32 quantile box, so a point predicate on either column
    // touches ~8/64 of the row groups.
    val zx = scannedRows(zdir, "x")
    val zy = scannedRows(zdir, "y")
    assert(zx <= total / 4 && zy <= total / 4,
      s"z-order must skip most row groups on both dims: x=$zx y=$zy " +
        s"of $total")
    // The x-sorted layout prunes x but reads EVERYTHING for y.
    val sx = scannedRows(xdir, "x")
    val sy = scannedRows(xdir, "y")
    assert(sx <= total / 4, s"sorted layout must prune its own column: $sx")
    assert(sy >= total * 9 / 10,
      s"the single-sort layout cannot prune the other column ($sy of " +
        s"$total) — this contrast is the point of the test")
    assert(zy * 4 <= sy,
      s"z-order must beat the single-sort layout on the non-sorted " +
        s"column by 4×+: z=$zy vs sorted=$sy")
  }

  test("compactBucketed on a hive-partitioned + bucketed table: one file " +
      "per (partition, bucket), exchange-free rewrite, pruning and the " +
      "co-located join preserved, crash states recovered") {
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("bktp").toString + "/f"
    def facts(lo: Int, hi: Int) = (lo to hi)
      .map(i => (i.toLong % 97, i.toLong, s"d${i % 2}")).toDF("k", "fid", "p")
    val dims = (0 to 96).map(i => (i.toLong, s"name$i")).toDF("k", "name")
    // partitioned(p) + bucketed(k) external fact table.
    spark.sql("drop table if exists bktp_t")
    val fs0 = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs0.delete(new org.apache.hadoop.fs.Path(loc), true)
    facts(1, 500).write.format("parquet").option("path", loc)
      .partitionBy("p").bucketBy(4, "k").sortBy("k").saveAsTable("bktp_t")
    graft.sources.Sink.bucketed(dims, "bktp_d", "k", 4, "k")
    (1 to 3).foreach { b =>
      facts(500 + b * 100 + 1, 500 + (b + 1) * 100)
        .write.mode(org.apache.spark.sql.SaveMode.Append).format("parquet")
        .partitionBy("p").bucketBy(4, "k").sortBy("k")
        .saveAsTable("bktp_t")
    }
    def leafFiles(leaf: String) = Option(
      new java.io.File(s"$loc/$leaf").listFiles()).getOrElse(Array())
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
    assert(leafFiles("p=d0").length > 4 && leafFiles("p=d1").length > 4,
      "appends must fragment each partition leaf")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def joined() = spark.table("bktp_t").join(spark.table("bktp_d"), "k")
      val rowsBefore = joined().count()
      assert(!joined().queryExecution.executedPlan.toString
        .contains("Exchange"), "bucketed join must be exchange-free")
      val tableRows = spark.table("bktp_t").orderBy("fid")
        .collect().map(_.toSeq).toSeq

      graft.sources.Sink.compactBucketed(spark, "bktp_t")
      for (leaf <- Seq("p=d0", "p=d1"))
        assert(leafFiles(leaf).length <= 4,
          s"$leaf: one file per bucket after compaction, got " +
            s"${leafFiles(leaf).length}")
      assert(spark.table("bktp_t").orderBy("fid")
        .collect().map(_.toSeq).toSeq == tableRows,
        "compaction must not change a single row")
      assert(joined().count() == rowsBefore)
      assert(!joined().queryExecution.executedPlan.toString
        .contains("Exchange"),
        "the exchange-free property must survive compaction")
      // Partition pruning still drives the scan.
      val pruned = spark.table("bktp_t").where(col("p") === "d0")
      assert(pruned.count() == tableRows.count(_.last == "d0"))
      val scanStr = pruned.queryExecution.executedPlan
        .collectLeaves().head.toString
      assert(scanStr.contains("PartitionFilters") && scanStr
        .replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("p"), "partition pruning must survive compaction")

      // Crash state: table dropped, complete copy stranded at tmp —
      // recovery must restore data, partition registration and the
      // bucket spec.
      spark.sql("drop table bktp_t")
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      require(fs.rename(new org.apache.hadoop.fs.Path(loc),
        new org.apache.hadoop.fs.Path(loc + "__graft_cmp")))
      graft.sources.Sink.compactBucketedRecover(spark, "bktp_t", loc)
      assert(spark.table("bktp_t").orderBy("fid")
        .collect().map(_.toSeq).toSeq == tableRows,
        "recovery must re-register the partitioned layout completely")
      assert(!joined().queryExecution.executedPlan.toString
        .contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("drop table if exists bktp_t")
      spark.sql("drop table if exists bktp_d")
    }
  }

  test("z-order lifecycle: appends decay the curve; compact re-sorts the " +
      "rewrite on the persisted _clusterspec and recluster re-runs it — " +
      "the either-column scan bound survives maintenance") {
    val grid = spark.range(256L * 256L)
      .select((col("id") / 256).cast("long").as("x"),
        (col("id") % 256).cast("long").as("y"))
    val zdir = java.nio.file.Files.createTempDirectory("zlc").toString + "/z"
    graft.sources.Sink.zordered(grid, zdir, Seq("x", "y"), files = 64)
    assert(new java.io.File(s"$zdir/_clusterspec").exists(),
      "zordered must persist the curve for its maintenance twins")
    // Streaming-shaped decay: a second copy of the grid lands as
    // unclustered appended files.
    grid.repartition(8).write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(zdir)
    val total = 2L * 256L * 256L
    def scanned(c: String): Long = {
      val d = spark.read.parquet(zdir).where(col(c) === 123L)
      d.collect()
      val scan = d.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      scan.metrics("numOutputRows").value
    }
    assert(spark.read.parquet(zdir).count() == total)
    assert(scanned("x") >= total / 3 || scanned("y") >= total / 3,
      "appends must have decayed the layout for the test to mean anything")
    // Small-files compaction re-sorts along the SAME curve (no plain
    // coalesce): the multi-dim bound must hold again afterwards.
    val bytes = new java.io.File(zdir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_")).map(_.length).sum
    val st = graft.sources.Sink.compact(spark, zdir,
      targetBytesPerFile = math.max(1L, bytes / 64))
    assert(st.leavesRewritten == 1, s"$st")
    assert(spark.read.parquet(zdir).count() == total)
    assert(scanned("x") <= total / 4 && scanned("y") <= total / 4,
      s"compact must preserve the curve: x=${scanned("x")} " +
        s"y=${scanned("y")} of $total")
    assert(new java.io.File(s"$zdir/_clusterspec").exists(),
      "the spec must survive compaction")
    // recluster: fresh boundaries over current content, full curve
    // re-run, crash-safe swap.
    graft.sources.Sink.recluster(spark, zdir, files = 64)
    assert(spark.read.parquet(zdir).count() == total)
    // 30% bound here where compact asserts 25%: recluster prices FRESH
    // boundaries through Spark's range-partitioner SAMPLING (seeded by
    // RDD id, so it varies run to run), and the per-column scan bound
    // wobbles a few percent with the drawn file edges — measured 33276
    // (25.4%) in one full-suite run vs ~31k typical. Decayed layouts
    // read >60% (the assert above), so 30% still separates the states;
    // compact keeps the tighter bound because it re-sorts on the
    // PERSISTED deterministic boundaries.
    assert(scanned("x") <= total * 3 / 10 && scanned("y") <= total * 3 / 10,
      s"recluster must restore the bound: x=${scanned("x")} " +
        s"y=${scanned("y")}")
    assert(new java.io.File(s"$zdir/_clusterspec").exists())

    // Crash convergence for the root-level swap (recluster's tmp is a
    // SIBLING of the layout): a complete copy whose target is gone
    // renames in; a stale tmp next to a live layout rolls back.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val rootP = new org.apache.hadoop.fs.Path(zdir)
    val tmpP = new org.apache.hadoop.fs.Path(rootP.getParent, ".cmp_tmp_z")
    require(fs.rename(rootP, tmpP)) // simulate crash between delete+rename
    graft.sources.Sink.compactRecover(spark, zdir)
    assert(spark.read.parquet(zdir).count() == total,
      "a complete sibling copy must rename into a missing root")
    org.apache.hadoop.fs.FileUtil.copy(fs, rootP, fs, tmpP, false,
      spark.sparkContext.hadoopConfiguration) // stale tmp, live root
    graft.sources.Sink.compactRecover(spark, zdir)
    assert(!new java.io.File(tmpP.toUri.getPath).exists(),
      "a stale root tmp must roll back")
    assert(spark.read.parquet(zdir).count() == total)
  }

  test("reclusterPartitioned: value drift decays the PERSISTED quantile " +
      "boundaries — per-leaf re-sorts on the stale spec cannot restore " +
      "skipping, the boundary refresh does; partition values, rows and " +
      "the root spec all survive") {
    import spark.implicits._
    def mk(lo: Long, n: Int) = (0 until n).map { i =>
      (lo + (i * 37L) % 1000L, lo + (i * 61L) % 991L,
        if (i % 2 == 0) "a" else "b")
    }.toDF("x", "y", "p")
    val dir = java.nio.file.Files.createTempDirectory("zrp").toString + "/z"
    graft.sources.Sink.zorderedPartitioned(mk(0L, 40000), dir,
      partCols = Seq("p"), zCols = Seq("x", "y"), bits = 6, files = 16)
    val specBefore = java.nio.file.Files.readString(
      java.nio.file.Path.of(s"$dir/_clusterspec"))
    // DRIFT: a second epoch lands whose values sit entirely ABOVE the
    // priced boundaries on BOTH clustered columns (the events-table
    // shape: time-correlated dimensions all grow). Every drifted row
    // maps to the curve's single LAST cell, so the z-key stops
    // discriminating inside the new region no matter how the leaves are
    // re-sorted.
    mk(1000000L, 40000).repartition(8)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("p").parquet(dir)
    val total = 80000L
    def scanned(): Long = {
      val d = spark.read.parquet(dir)
        .where(col("x") >= 1000400L && col("x") <= 1000440L &&
          col("y") >= 1000400L && col("y") <= 1000440L)
      d.collect()
      d.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numOutputRows").value
    }
    val bytes = new java.io.File(s"$dir/p=a").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_")).map(_.length).sum
    // The stale-spec remedy: compact re-sorts every oversized leaf along
    // the persisted curve — and the drifted half still reads near-whole,
    // because the BOUNDARIES are wrong, not the sort.
    graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = math.max(1L, bytes / 4))
    val staleScan = scanned()
    assert(staleScan >= total / 4,
      s"with stale boundaries the drifted region must read near-whole " +
        s"for this test to mean anything (scanned $staleScan of $total)")
    val decayBefore = graft.sources.Sink.clusterDecay(spark, dir)
    val st = graft.sources.Sink.reclusterPartitioned(spark, dir,
      targetBytesPerFile = math.max(1L, bytes / 32))
    assert(st.leavesRewritten == 2, s"both partition leaves rewrite: $st")
    // Rows and partition values are untouched.
    assert(spark.read.parquet(dir).count() == total)
    assert(spark.read.parquet(dir).where(col("p") === "a").count() ==
      total / 2, "partition pruning columns must survive")
    // The spec refreshed in place (root-level, governs all leaves) …
    val specAfter = java.nio.file.Files.readString(
      java.nio.file.Path.of(s"$dir/_clusterspec"))
    assert(specAfter != specBefore,
      "boundary refresh must rewrite the root _clusterspec")
    // … and skipping inside the drifted region actually works now.
    val freshScan = scanned()
    assert(freshScan <= staleScan / 3,
      s"refreshed boundaries must restore skipping in the drifted " +
        s"region: $freshScan vs stale $staleScan")
    assert(graft.sources.Sink.clusterDecay(spark, dir) < decayBefore,
      "decay signal must drop after the refresh")
    // recluster (the flat-layout path) still refuses partitioned trees,
    // pointing at this API.
    val e = intercept[IllegalArgumentException] {
      graft.sources.Sink.recluster(spark, dir)
    }
    assert(e.getMessage.contains("reclusterPartitioned"))
  }

  test("recluster refuses copy-rename schemes (the delete+rename swap " +
      "is not crash-safe there); reclusterPartitioned is the " +
      "manifest-committed recluster and works on a flat root too") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.nacopy.impl",
      classOf[graft.tools.CopyRenameFileSystem].getName)
    spark.conf.set(graft.sources.Sink.NonAtomicSchemesKey, "nacopy")
    try {
      val local = java.nio.file.Files.createTempDirectory("zna").toString
      val dir = s"nacopy://$local/z"
      val df = (0 until 4000).map { i =>
        ((i * 37L) % 997L, (i * 61L) % 991L)
      }.toDF("x", "y")
      graft.sources.Sink.zordered(df, dir, Seq("x", "y"), files = 8)
      val e = intercept[IllegalArgumentException] {
        graft.sources.Sink.recluster(spark, dir)
      }
      assert(e.getMessage.contains("reclusterPartitioned"),
        s"refusal must point at the safe path: ${e.getMessage}")
      // The safe path: leaf-by-leaf manifest commit, no delete+rename of
      // the root, exact rows through the manifest-aware reader.
      val st = graft.sources.Sink.reclusterPartitioned(spark, dir,
        targetBytesPerFile = 1L << 30)
      assert(st.leavesRewritten == 1, s"$st")
      assert(new java.io.File(s"$local/z").listFiles()
        .exists(_.getName.startsWith("_manifest.")),
        "commit=auto on a copy-rename scheme must take the manifest path")
      assert(graft.sources.Sink.readCompacted(spark, dir).count() == 4000)
      // kind=sort arm: the sorted layout has no boundaries to refresh —
      // reclusterPartitioned's forced rewrite is the RANGE upgrade, so
      // the leaf's files end with DISJOINT ranges (file-level skipping),
      // which plain compact's within-file re-sort never produces.
      val sdir = s"nacopy://$local/s"
      graft.sources.Sink.sorted(
        (0 until 4000).map(i => ((i * 7919L) % 4000L, i.toLong))
          .toDF("k", "v"), sdir, "k")
      intercept[IllegalArgumentException] {
        graft.sources.Sink.recluster(spark, sdir)
      }
      val sbytes = new java.io.File(s"$local/s").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_")).map(_.length).sum
      val sst = graft.sources.Sink.reclusterPartitioned(spark, sdir,
        targetBytesPerFile = math.max(1L, sbytes / 4))
      assert(sst.leavesRewritten == 1, s"$sst")
      val ranges = graft.sources.Sink.readCompacted(spark, sdir)
        .groupBy(input_file_name().as("f"))
        .agg(min("k").as("lo"), max("k").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      assert(ranges.length >= 3, s"range upgrade must split: $ranges")
      assert(ranges.sliding(2).forall {
        case Array((_, hi1), (lo2, _)) => hi1 < lo2
        case _ => true
      }, s"per-file ranges must be disjoint after the upgrade: " +
        ranges.mkString(", "))
      assert(graft.sources.Sink.readCompacted(spark, sdir).count() == 4000)
    } finally {
      spark.conf.unset(graft.sources.Sink.NonAtomicSchemesKey)
      hconf.unset("fs.nacopy.impl")
    }
  }

  test("zordered on a DATE column: epoch-day normalization keeps the " +
      "curve aligned with parquet's physical order, so date predicates " +
      "prune; clusterDecay reads ~1 fresh, grows with unclustered " +
      "appends, and recovers after recluster") {
    val dir = java.nio.file.Files.createTempDirectory("zd").toString + "/z"
    // 128 days × 128 values.
    val grid = spark.range(128L * 128L)
      .select(date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          (col("id") / 128).cast("int")).as("d"),
        (col("id") % 128).cast("long").as("v"))
    graft.sources.Sink.zordered(grid, dir, Seq("d", "v"),
      bits = 7, files = 32)
    val total = 128L * 128L
    def scanned(pred: org.apache.spark.sql.Column): Long = {
      val q = spark.read.parquet(dir).where(pred)
      q.collect()
      q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numOutputRows").value
    }
    assert(scanned(col("d") === "2024-03-11") <= total / 2 &&
      scanned(col("v") === 77L) <= total / 2,
      "both the date and the numeric dimension must prune")
    // Unsupported type refuses loudly.
    intercept[IllegalArgumentException] {
      graft.sources.Sink.zordered(
        grid.select(col("d").cast("string").as("s"), col("v")),
        dir + "_bad", Seq("s", "v"))
    }
    // Decay signal: ≈1-2 on the fresh curve, up past the recluster bar
    // once full-range appends land, back down after recluster.
    val fresh = graft.sources.Sink.clusterDecay(spark, dir)
    assert(fresh < 3.0, s"fresh curve must read tight, got $fresh")
    grid.repartition(6).write
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
    val decayed = graft.sources.Sink.clusterDecay(spark, dir)
    assert(decayed > fresh + 3.0,
      s"six full-range appends must move the signal: $fresh -> $decayed")
    graft.sources.Sink.recluster(spark, dir, files = 32)
    val after = graft.sources.Sink.clusterDecay(spark, dir)
    assert(after < 3.0, s"recluster must restore the curve, got $after")
    assert(spark.read.parquet(dir).count() == 2 * total)
  }

  test("sorted-layout lifecycle: compact restores within-file ordering " +
      "from the persisted kind=sort spec; recluster range-upgrades the " +
      "layout to disjoint per-file ranges") {
    import spark.implicits._
    val sdir = java.nio.file.Files.createTempDirectory("slc").toString + "/s"
    val n = 20000L
    val base = spark.range(n).select(col("id").as("v"),
      (col("id") * 7L % 100L).as("w"))
    graft.sources.Sink.sorted(base.repartition(4), sdir, "v")
    assert(new java.io.File(s"$sdir/_clusterspec").exists())
    def dataFiles() = new java.io.File(sdir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    def eachFileSorted(): Boolean = dataFiles().forall { f =>
      val vs = spark.read.parquet(f.getPath).select("v").as[Long]
        .collect().toSeq
      vs == vs.sorted
    }
    assert(eachFileSorted())
    // Unsorted append decays the property...
    spark.range(n).select((col("id") * 48271L % n).as("v"),
      lit(0L).as("w")).coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(sdir)
    assert(!eachFileSorted(), "the appended file must be unsorted for " +
      "this test to mean anything")
    // ...and compact restores it (kind=sort → per-file re-sort, no
    // range shuffle — Sink.sorted's own cost model).
    val bytes = dataFiles().map(_.length).sum
    val st = graft.sources.Sink.compact(spark, sdir,
      targetBytesPerFile = math.max(1L, bytes / 4))
    assert(st.leavesRewritten == 1, s"$st")
    assert(spark.read.parquet(sdir).count() == 2 * n)
    assert(eachFileSorted(),
      "compact must re-sort the rewrite on the kind=sort spec")
    assert(new java.io.File(s"$sdir/_clusterspec").exists())
    // recluster = the RANGE upgrade: files get disjoint ranges, so a
    // point predicate now skips most of the layout at file level.
    graft.sources.Sink.recluster(spark, sdir, files = 8)
    assert(spark.read.parquet(sdir).count() == 2 * n)
    assert(eachFileSorted())
    val q = spark.read.parquet(sdir).where(col("v") === 123L)
    q.collect()
    val scanned = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head.metrics("numOutputRows").value
    assert(scanned <= 2 * n / 3,
      s"range-reclustered layout must skip most files: $scanned of ${2 * n}")
  }

  test("z-order lifecycle under the MANIFEST commit: the rewrite " +
      "re-sorts on the spec, the spec survives (the leaf dir is never " +
      "deleted in this mode), and both read paths stay exact") {
    import spark.implicits._
    val zdir = java.nio.file.Files.createTempDirectory("zmf").toString + "/z"
    val grid = spark.range(128L * 128L)
      .select((col("id") / 128).cast("long").as("x"),
        (col("id") % 128).cast("long").as("y"))
    graft.sources.Sink.zordered(grid, zdir, Seq("x", "y"),
      bits = 7, files = 16)
    grid.repartition(4).write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(zdir)
    val total = 2L * 128L * 128L
    val bytes = new java.io.File(zdir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_")).map(_.length).sum
    val st = graft.sources.Sink.compact(spark, zdir,
      targetBytesPerFile = math.max(1L, bytes / 16), commit = "manifest")
    assert(st.leavesRewritten == 1, s"$st")
    assert(new java.io.File(s"$zdir/_manifest.1").exists() &&
      new java.io.File(s"$zdir/_clusterspec").exists(),
      "manifest commit + surviving cluster spec")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select((col("x") * 128 + col("y")).as("c")).as[Long]
        .collect().toSeq.sorted
    assert(ids(graft.sources.Sink.readCompacted(spark, zdir)) ==
      ids(spark.read.parquet(zdir)))
    assert(spark.read.parquet(zdir).count() == total)
    val q = spark.read.parquet(zdir).where(col("x") === 13L)
    q.collect()
    val scanned = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head.metrics("numOutputRows").value
    assert(scanned <= total / 2,
      s"the manifest-mode rewrite must still restore the curve: " +
        s"$scanned of $total")
  }

  test("zorderedPartitioned: directory pruning on the partition column, " +
      "z skipping inside every partition, and compact restores the curve " +
      "per leaf from the ROOT _clusterspec") {
    val dir = java.nio.file.Files.createTempDirectory("zp").toString + "/t"
    // Two hive partitions, each holding the full 128×128 grid.
    val grid = spark.range(2L * 128L * 128L)
      .select((col("id") % 2).cast("long").as("p"),
        ((col("id") / 2) / 128).cast("long").as("x"),
        ((col("id") / 2) % 128).cast("long").as("y"))
    graft.sources.Sink.zorderedPartitioned(grid, dir, Seq("p"),
      Seq("x", "y"), bits = 7, files = 32)
    assert(new java.io.File(s"$dir/_clusterspec").exists(),
      "the curve must persist at the ROOT for partitioned layouts")
    val leafRows = 128L * 128L
    def scanned(extra: org.apache.spark.sql.Column): Long = {
      val d = spark.read.parquet(dir).where(col("p") === 0L && extra)
      d.collect()
      val scan = d.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan.toString.contains("PartitionFilters"),
        "the p predicate must prune at directory level")
      scan.metrics("numOutputRows").value
    }
    assert(scanned(col("x") === 7L) <= leafRows / 2 &&
      scanned(col("y") === 7L) <= leafRows / 2,
      "z skipping must hold inside the partition")
    // Unclustered rows land in one leaf; the per-leaf compact rewrite
    // must find the ROOT spec and re-sort along the same curve.
    spark.range(leafRows).select((col("id") / 128).cast("long").as("x"),
        (col("id") % 128).cast("long").as("y"))
      .repartition(8)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$dir/p=0")
    val leafBytes = new java.io.File(s"$dir/p=0").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_")).map(_.length).sum
    // Target sized so the decayed leaf's file count exceeds `want` and
    // the rewrite actually fires (only leaves that NEED rewriting are
    // touched — the compact contract).
    val st = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = math.max(1L, leafBytes / 16))
    assert(st.leavesRewritten >= 1, s"$st")
    val leafTotal = 2L * leafRows
    assert(spark.read.parquet(dir).where(col("p") === 0L).count()
      == leafTotal)
    assert(scanned(col("x") === 7L) <= leafTotal / 2 &&
      scanned(col("y") === 7L) <= leafTotal / 2,
      s"compact must preserve the curve per leaf: " +
        s"x=${scanned(col("x") === 7L)} y=${scanned(col("y") === 7L)} " +
        s"of $leafTotal")
  }

  test("compactBucketedRecover: every external swap crash state rolls " +
      "forward or back without losing a row; the managed half-rename " +
      "finishes") {
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("bktr").toString + "/f"
    val df = (1 to 300).map(i => (i.toLong % 31, i.toLong)).toDF("k", "fid")
    graft.sources.Sink.bucketedExternal(df, "bktr_t", loc, "k", 4, "k")
    def rows() = spark.table("bktr_t").orderBy("fid")
      .collect().map(_.toSeq).toSeq
    def bucketed() = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("bktr_t"))
      .bucketSpec.exists(_.numBuckets == 4)
    // A first compaction installs the _bucketspec recovery DDL at loc.
    graft.sources.Sink.compactBucketed(spark, "bktr_t")
    val expect = rows()
    assert(new java.io.File(s"$loc/_bucketspec").exists())
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)

    // STATE: crash between the catalog drops and the directory swap —
    // table gone, complete copy stranded at <loc>__graft_cmp.
    spark.sql("drop table bktr_t")
    require(fs.rename(new org.apache.hadoop.fs.Path(loc),
      new org.apache.hadoop.fs.Path(loc + "__graft_cmp")))
    graft.sources.Sink.compactBucketedRecover(spark, "bktr_t", loc)
    assert(rows() == expect && bucketed(),
      "recovery must finish the swap from the stranded copy")
    assert(!new java.io.File(loc + "__graft_cmp").exists())

    // STATE: crash after the rename, before the CREATE — data in place,
    // catalog entry missing.
    spark.sql("drop table bktr_t")
    graft.sources.Sink.compactBucketedRecover(spark, "bktr_t", loc)
    assert(rows() == expect && bucketed(),
      "recovery must re-create the catalog entry over in-place data")

    // STATE: crash before any destructive step — table alive, stale tmp
    // remnants. Recovery rolls back; the live table is untouched.
    (1 to 10).map(i => (i.toLong, 0L)).toDF("k", "fid").coalesce(1)
      .write.parquet(loc + "__graft_cmp")
    graft.sources.Sink.compactBucketedRecover(spark, "bktr_t", loc)
    assert(rows() == expect && bucketed())
    assert(!new java.io.File(loc + "__graft_cmp").exists(),
      "stale tmp remnants must roll back when the table is alive")

    // MANAGED half-rename: the compacted copy exists only as the tmp
    // TABLE; recovery finishes the rename.
    val dm = (1 to 100).map(i => (i.toLong % 7, i.toLong)).toDF("k", "fid")
    graft.sources.Sink.bucketed(dm, "bktr_m__graft_cmp", "k", 4, "k")
    graft.sources.Sink.compactBucketedRecover(spark, "bktr_m")
    assert(spark.table("bktr_m").count() == 100)
    assert(!spark.catalog.tableExists("bktr_m__graft_cmp"))
    spark.sql("drop table if exists bktr_t")
    spark.sql("drop table if exists bktr_m")
  }

  test("readCompacted: mixed directories (visible files beside visible " +
      "subdirectories) keep their rows on BOTH read paths — before and " +
      "after a manifest exists anywhere in the tree") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cmx").toString + "/t"
    // 50 rows as files directly at the root, 50 more in a nested non-k=v
    // subdirectory: the root is a MIXED dir (files + subdir), never a
    // compaction target; `extra` is a normal leaf.
    (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .coalesce(2).write.parquet(dir)
    (51 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .repartition(5).write.parquet(s"$dir/extra")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSeq.sorted
    val all = (1L to 100L).toSeq
    // A PLAIN directory read stops at the first non-k=v level — it sees
    // only the root's own files. readCompacted's contract is RECURSIVE
    // semantics, so a mixed layout must route through the explicit-file
    // load even before any manifest exists.
    assert(ids(spark.read.parquet(dir)) == (1L to 50L).toSeq)
    assert(ids(graft.sources.Sink.readCompacted(spark, dir)) == all,
      "pre-manifest read of a mixed layout must include nested leaves")
    // A manifest commit on the `extra` leaf: the mixed root's files must
    // still ride along, or the same layout returns different data
    // depending on whether a manifest exists anywhere (the ADVICE r15
    // hole).
    val st = graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30, commit = "manifest")
    assert(st.leavesRewritten == 1, s"only the extra leaf rewrites: $st")
    assert(new java.io.File(s"$dir/extra/_manifest.1").exists())
    assert(ids(graft.sources.Sink.readCompacted(spark, dir)) == all,
      "mixed-dir rows must survive the explicit-file load")
  }

  test("readCompacted: torn-manifest retry backs off long enough for a " +
      "racing commit to land — the delayed gen-2 commit resolves within " +
      "the retry budget") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cbo").toString + "/t"
    (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .repartition(4).write.parquet(dir)
    graft.sources.Sink.compact(spark, dir,
      targetBytesPerFile = 1L << 30, commit = "manifest")
    val gen1File = visibleNames(dir).head
    assert(gen1File.startsWith("cmpg-1-"))
    // Stage the racing commit's new content (ids 101..200).
    (101 to 200).map(i => (i.toLong, i * 2.0)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/.stage2")
    val staged = new java.io.File(s"$dir/.stage2").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(staged.toPath,
      new java.io.File(dir, "cmpg-2-part-00000.parquet").toPath)
    // Mid-race state a reader can observe on a copy-rename store: gen 2's
    // post-commit delete of the gen-1 file already visible, gen 2's
    // manifest object not yet — resolution through _manifest.1 hits a
    // missing file. The commit lands ~400 ms later; the backed-off retry
    // (50/200/800 ms) must pick it up instead of failing on three
    // instant re-listings.
    java.nio.file.Files.delete(new java.io.File(dir, gen1File).toPath)
    val committer = new Thread(() => {
      Thread.sleep(400L)
      val manifest = ("graft-manifest v1\ngen 2\n" +
        "f cmpg-2-part-00000.parquet\n" + s"r $gen1File\n")
      java.nio.file.Files.writeString(
        new java.io.File(dir, "_manifest.2").toPath, manifest)
    })
    committer.start()
    try {
      val got = graft.sources.Sink.readCompacted(spark, dir)
        .select("id").as[Long].collect().toSeq.sorted
      assert(got == (101L to 200L).toSeq,
        "the retried resolution must see exactly the gen-2 commit")
    } finally committer.join()
  }

  test("compactBucketedRecover: a stale _bucketspec over partially " +
      "deleted data at loc must NOT beat the complete tmp copy — " +
      "recovery rolls forward from tmp, zero data loss") {
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("bkts").toString + "/f"
    val df = (1 to 400).map(i => (i.toLong % 13, i.toLong)).toDF("k", "fid")
    graft.sources.Sink.bucketedExternal(df, "bkts_t", loc, "k", 4, "k")
    graft.sources.Sink.compactBucketed(spark, "bkts_t")
    val expect = spark.table("bkts_t").orderBy("fid")
      .collect().map(_.toSeq).toSeq
    assert(new java.io.File(s"$loc/_bucketspec").exists())
    // Crash state from a LATER compaction, mid-way through the recursive
    // delete of loc: the complete new copy (with its spec) sits at
    // <loc>__graft_cmp, the catalog entry is gone, and loc still holds a
    // VALID-LOOKING stale spec over PARTIAL data — the one state where
    // trusting loc's spec silently loses rows.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(loc), fs,
      new org.apache.hadoop.fs.Path(loc + "__graft_cmp"), false,
      spark.sparkContext.hadoopConfiguration)
    spark.sql("drop table bkts_t")
    val dataFiles = new java.io.File(loc).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
    // (empty buckets write no file, so the count is ≤ numBuckets)
    assert(dataFiles.length >= 2, s"got ${dataFiles.length} files")
    dataFiles.take(1).foreach(f => java.nio.file.Files.delete(f.toPath))
    graft.sources.Sink.compactBucketedRecover(spark, "bkts_t", loc)
    assert(spark.table("bkts_t").orderBy("fid")
      .collect().map(_.toSeq).toSeq == expect,
      "recovery must install the COMPLETE tmp copy, not re-create the " +
        "table over partially deleted data")
    assert(!new java.io.File(loc + "__graft_cmp").exists())
    spark.sql("drop table if exists bkts_t")
  }

  test("readOwn: a corrupt part planted in a landed IVF generation is " +
      "counted, not fatal — partition columns and rows survive; " +
      "all-corrupt refuses loudly; conf-off restores fail-loud") {
    import graft.operators.Similarity
    val emb = spark.table("embeddings")
    val corpus = emb.where(col("vec_id") >= 10)
    val dir = java.nio.file.Files.createTempDirectory("rown").toString
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"), dir)
    val before = Similarity.loadIvfIndex(spark, dir).assigned
      .select("cid").collect().map(_.getLong(0)).sorted.toSeq
    // Plant a garbage .parquet inside one list partition — the store
    // corrupting a part after commit. A plain read of the generation
    // dies on it; the layout-aware load counts it out and returns the
    // exact surviving rows with the `list` partition column intact.
    val leaf = new java.io.File(s"$dir/lists").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list=")).head
    java.nio.file.Files.write(
      new java.io.File(leaf, "part-corrupt.parquet").toPath,
      Array.fill[Byte](64)(0x5A))
    intercept[Exception] {
      spark.read.parquet(s"$dir/lists").count()
    }
    val idx = Similarity.loadIvfIndex(spark, dir)
    assert(idx.assigned.columns.contains("list"),
      "the hive partition column must survive the explicit-file load")
    assert(idx.assigned.select("cid").collect().map(_.getLong(0))
      .sorted.toSeq == before,
      "the corrupt plant must cost zero good rows and no task failure")
    // Conf off: the probe is skipped and the plant is fatal again.
    spark.conf.set(graft.sources.Sink.QuarantineOwnKey, "false")
    try intercept[Exception] {
      Similarity.loadIvfIndex(spark, dir).assigned.count()
    } finally spark.conf.unset(graft.sources.Sink.QuarantineOwnKey)
    // All-corrupt: an artifact with zero readable parts must never
    // masquerade as empty.
    val dead = java.nio.file.Files.createTempDirectory("rownd")
      .toString + "/gen"
    new java.io.File(dead).mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dead, "part-0.parquet").toPath,
      Array.fill[Byte](32)(0x00))
    intercept[IllegalArgumentException] {
      graft.sources.Sink.readOwn(spark, Seq(dead)).count()
    }
  }

  test("fixture dir conf: the i-series synthesizers honor " +
      "spark.graft.fixture.dir (shared clusters may forbid /tmp writes)") {
    // A not-yet-existing NESTED base: mkdirs creates the parents exactly
    // when the conf is honored, so the parents' existence afterwards is
    // positive proof the fixture really landed under the conf'd dir.
    val base = java.nio.file.Files.createTempDirectory("fxbase")
      .toString + "/nested/fx"
    spark.conf.set("spark.graft.fixture.dir", base)
    try {
      val rows = graft.SparkEntry.queries("i1_quarantine_counts")(
        spark, sfDir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(("csv", 3L, 2L), ("jsonl", 2L, 2L),
        ("text", 2L, 1L)),
        "i1 must be unchanged under a non-default fixture dir")
      assert(new java.io.File(base).isDirectory,
        "the conf'd base must have been used (parents created by mkdirs)")
      // ... and the synthesizer cleaned its unique subdir back out.
      val leftovers = Option(new java.io.File(base).listFiles())
        .getOrElse(Array()).map(_.getName).filter(_.startsWith("graft_"))
      assert(leftovers.isEmpty, s"fixture leftovers: ${leftovers.toSeq}")
    } finally spark.conf.unset("spark.graft.fixture.dir")
  }

  test("export layout on the copy-rename FS: compactPacks lands the " +
      "manifest commit and an external readCompacted racing the swap " +
      "sees exact rows") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.nacopy.impl",
      classOf[graft.tools.CopyRenameFileSystem].getName)
    spark.conf.set(graft.sources.Sink.NonAtomicSchemesKey, "nacopy")
    try {
      val local = java.nio.file.Files.createTempDirectory("cpnac").toString
      val out = s"nacopy://$local/out"
      (0 until 2).foreach { b =>
        val df = (1 to 40).map(i => (b * 1000L + i, i.toLong % 2,
          s"body $b $i")).toDF("pack_id", "shard", "body").repartition(5)
        graft.sources.Sink.idempotentBatchSharded(df, out, b.toLong,
          keyCol = "shard", sortCol = "pack_id")
      }
      def ids() = graft.sources.Sink.readCompacted(spark, out)
        .select("pack_id").as[Long].collect().toSeq.sorted
      val before = ids()
      assert(before.size == 80)
      val handle = new graft.streaming.PackStream.Handle(out,
        graft.streaming.PackStream.Model(Nil, Map.empty, 1L, 16))
      var seenDuringSwap: Seq[Long] = null
      val st = graft.streaming.PackStream.compactPacks(spark, handle, out,
        upTo = 1L, targetBytesPerFile = 1L << 30,
        afterCopy = _ => if (seenDuringSwap == null) seenDuringSwap = ids())
      assert(st.leavesRewritten > 0)
      assert(seenDuringSwap == before,
        "an external reader inside the swap window must see the exact " +
          "old snapshot on a copy-rename store")
      assert(ids() == before)
      // The commit really was the one-file manifest, not a rename swap.
      val leaves = Option(new java.io.File(s"$local/out/b0").listFiles())
        .getOrElse(Array()).filter(_.isDirectory)
      assert(leaves.nonEmpty && leaves.forall(l =>
        l.listFiles().exists(_.getName.startsWith("_manifest."))),
        "auto commit on a copy-rename scheme must take the manifest path")
    } finally {
      spark.conf.unset(graft.sources.Sink.NonAtomicSchemesKey)
      hconf.unset("fs.nacopy.impl")
    }
  }

  test("compactPacks: an aborted batch blocks the high-water mark so the " +
      "next cadence fire retries it; later clean batches still compact") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("cph").toString
    (0 until 3).foreach { b =>
      val df = (1 to 60).map(i => (b * 1000L + i, 0L, s"body $b $i"))
        .toDF("pack_id", "shard", "body").repartition(5)
      graft.sources.Sink.idempotentBatchSharded(df, out, b.toLong,
        keyCol = "shard", sortCol = "pack_id")
    }
    val before = spark.read.option("recursiveFileLookup", "true")
      .parquet(out).orderBy("pack_id").collect().map(_.toSeq).toSeq
    val handle = new graft.streaming.PackStream.Handle(out,
      graft.streaming.PackStream.Model(Nil, Map.empty, 1L, 16))
    // Batch 1's leaf grows a late file mid-rewrite → its swap aborts.
    val late = (1 to 5).map(i => (9000L + i, 0L, s"late $i"))
      .toDF("pack_id", "shard", "body")
    val st1 = graft.streaming.PackStream.compactPacks(spark, handle, out,
      upTo = 2L, targetBytesPerFile = 1L << 30,
      afterCopy = leaf => if (leaf.toString.contains("/b1/")) {
        val tmp = java.nio.file.Files
          .createTempDirectory("cphl").toString + "/one"
        late.coalesce(1).write.parquet(tmp)
        val f = new java.io.File(tmp).listFiles()
          .filter(x => x.isFile && x.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(leaf.toString.stripPrefix("file:"),
            "late-arrival.parquet").toPath)
      })
    assert(st1.leavesAborted == 1 && st1.leavesRewritten == 2, s"$st1")
    assert(graft.streaming.PackStream.packCompactedThrough(handle) == 0L,
      "the mark must stop at the last clean batch before the abort")
    // Next cadence fire: only b1 and b2 re-list; b1 (now stable) compacts,
    // b2 is list-only; the mark advances to upTo.
    val st2 = graft.streaming.PackStream.compactPacks(spark, handle, out,
      upTo = 2L, targetBytesPerFile = 1L << 30)
    assert(st2.leavesAborted == 0 && st2.leavesRewritten == 1, s"$st2")
    assert(graft.streaming.PackStream.packCompactedThrough(handle) == 2L)
    val after = spark.read.option("recursiveFileLookup", "true")
      .parquet(out).orderBy("pack_id").collect().map(_.toSeq).toSeq
    assert(after.size == before.size + 5,
      "originals + the late arrival, nothing lost")
  }
}
