package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.core.Fixtures

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** graft-jsonl DSv2 connector: parity with the built-in JSON reader,
  * filter pushdown (plan-visible and semantically correct incl. nulls),
  * column pruning, gzip shards, malformed-line skip, file-per-partition
  * parallelism. */
class JsonlDsv2Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeShard(dir: String, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  private val fixture: String = {
    val dir = Fixtures.tempDir("graft_dsv2").toString
    writeShard(dir, "a.jsonl", Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web", "n_chars": 11}""",
      """{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "web", "n_chars": 7}""",
      """{"doc_id": 3, "text": null, "lang": "en", "source": "book", "n_chars": 0}""",
      "not json at all",
      """{"doc_id": 4, "lang": "en", "source": "web", "n_chars": 5}"""))
    writeShard(dir, "b.jsonl", Seq(
      """{"doc_id": 5, "text": "third shard", "lang": "de", "source": "web", "n_chars": 11}"""))
    dir
  }

  private def dsv2 = spark.read.format("graft-jsonl").load(fixture)

  test("rows parse with the declared corpus schema; malformed lines skip") {
    val got = dsv2.orderBy("doc_id").collect()
    assert(got.length === 5)
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    assert(got(0).getString(1) === "hello world")
    assert(got(2).isNullAt(1) && got(3).isNullAt(1)) // explicit null + missing
  }

  test("filters push into the reader and survive null semantics") {
    val f = dsv2.filter(col("lang") === "en" && col("n_chars") >= 5)
    val plan = f.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("EqualTo(lang,en)") || plan.contains("lang = 'en'")),
      s"plan:\n$plan")
    assert(f.select("doc_id").as[Long].collect().sorted === Array(1L, 4L))
    // IsNull pushes and matches both explicit null and missing field
    assert(dsv2.filter(col("text").isNull).select("doc_id")
      .as[Long].collect().sorted === Array(3L, 4L))
  }

  test("column pruning reaches the scan") {
    val q = dsv2.filter(col("lang") === "de").select("doc_id", "source")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>")
      || !plan.contains("text"), s"plan:\n$plan")
    assert(q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((5L, "web")))
  }

  test("parity with the built-in JSON reader on a real corpus slice, gzip shards") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val dir = Fixtures.tempDir("graft_dsv2_gz").toString
    JsonlCorpus.write(docs, dir, partitionCol = None) // .json.gz shards
    val viaDsv2 = spark.read.format("graft-jsonl").load(dir)
    assert(viaDsv2.rdd.getNumPartitions >= 1)
    val viaBuiltin = JsonlCorpus.readClean(spark, dir)
    assert(viaDsv2.exceptAll(viaBuiltin).isEmpty
      && viaBuiltin.exceptAll(viaDsv2).isEmpty)
    // pushed filter parity against the parquet source of truth
    val filtered = viaDsv2.filter(col("lang") === "en").agg(
      count(lit(1)), sum("n_chars")).head()
    val want = docs.filter(col("lang") === "en").agg(
      count(lit(1)), sum("n_chars")).head()
    assert(filtered === want)
  }

  test("one partition per shard file") {
    assert(dsv2.rdd.getNumPartitions === 2)
  }

  test("write path: staged commit publishes shards, append accumulates, overwrite truncates") {
    val out = Fixtures.tempDir("graft_dsv2_write").toString
    val a = Seq((1L, "one", "en", "s", 3L), (2L, "two", "fr", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    a.write.format("graft-jsonl").mode("append").save(out)
    val b = Seq((3L, "three", "de", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b.write.format("graft-jsonl").mode("append").save(out)
    val appended = spark.read.format("graft-jsonl").load(out)
    assert(appended.count() === 3L)
    // staging is cleaned after commit
    assert(!Files.exists(Paths.get(out, "_staging")) ||
      Files.list(Paths.get(out, "_staging")).count() === 0)
    // overwrite truncates previous data files
    b.write.format("graft-jsonl").mode("overwrite").save(out)
    assert(spark.read.format("graft-jsonl").load(out)
      .select("doc_id").as[Long].collect().toSeq === Seq(3L))
  }

  test("partitioned layout: values injected from dirs, partitions pruned at planning") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val dir = Fixtures.tempDir("graft_dsv2_part").toString
    JsonlCorpus.write(docs, dir, partitionCol = Some("lang")) // lang=*/ dirs
    val part = spark.read.format("graft-jsonl").load(dir)
    // full read: lang restored from directory names, full parity
    val wantAll = docs.collect().length
    assert(part.count() === wantAll.toLong)
    assert(part.filter(col("lang").isNull).count() === 0L)
    // pushed filter on the partition col prunes whole directories:
    // task count == shard count under lang=en only
    val en = part.filter(col("lang") === "en")
    val enFiles = Files.list(Paths.get(dir, "lang=en")).filter(p =>
      p.getFileName.toString.endsWith(".json.gz")).count()
    assert(en.rdd.getNumPartitions === enFiles.toInt)
    val wantEn = docs.filter(col("lang") === "en")
    assert(en.exceptAll(wantEn).isEmpty && wantEn.exceptAll(en).isEmpty)
    // range pruning on a partition value and non-partition filters compose
    assert(part.filter(col("lang") >= "fr" && col("n_chars") > 0).count()
      === docs.filter(col("lang") >= "fr" && col("n_chars") > 0).count())
  }

  test("null partitions round-trip: sentinel dir reads back as SQL null") {
    val dir = Fixtures.tempDir("graft_dsv2_nullpart").toString
    val docs = Seq(
      (1L, "a", "en", "s", 1L),
      (2L, "b", null.asInstanceOf[String], "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    JsonlCorpus.write(docs, dir, partitionCol = Some("lang")) // lang=__HIVE_DEFAULT_PARTITION__/
    val back = spark.read.format("graft-jsonl").load(dir)
    assert(back.count() === 2L)
    // IsNull must NOT be pruned away, and the sentinel never leaks as a string
    assert(back.filter(col("lang").isNull).select("doc_id")
      .as[Long].collect().toSeq === Seq(2L))
    assert(back.filter(col("lang") === "__HIVE_DEFAULT_PARTITION__").count() === 0L)
    assert(back.filter(col("lang") === "en").select("doc_id")
      .as[Long].collect().toSeq === Seq(1L))
  }

  test("partition values with '+' and escaped chars survive (no URLDecoder plus-to-space)") {
    val dir = Fixtures.tempDir("graft_dsv2_plus").toString
    val docs = Seq((1L, "x", "c++", "s", 1L), (2L, "y", "a b", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    JsonlCorpus.write(docs, dir, partitionCol = Some("lang"))
    val back = spark.read.format("graft-jsonl").load(dir)
    assert(back.select("lang").as[String].collect().sorted.toSeq === Seq("a b", "c++"))
    assert(back.filter(col("lang") === "c++").select("doc_id")
      .as[Long].collect().toSeq === Seq(1L))
  }

  test("two-level hive layout: values injected per level, both keys prune at planning") {
    val dir = Fixtures.tempDir("graft_dsv2_twolevel").toString
    Seq((1L, "a", "en", "web", 1L), (2L, "b", "en", "book", 1L),
      (3L, "c", "fr", "web", 1L),
      (4L, "d", null.asInstanceOf[String], "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").option("compression", "gzip")
      .partitionBy("lang", "source").json(dir)
    val back = spark.read.format("graft-jsonl").load(dir)
    assert(back.count() === 4L)
    // both levels injected from the directory chain
    assert(back.filter(col("lang") === "en" && col("source") === "book")
      .select("doc_id").as[Long].collect().toSeq === Seq(2L))
    // null sentinel works at the OUTER level with an inner level below it
    assert(back.filter(col("lang").isNull).select("doc_id")
      .as[Long].collect().toSeq === Seq(4L))
    // planning-time pruning on BOTH keys: task count == shard count
    // under exactly lang=en/source=web
    val pruned = back.filter(col("lang") === "en" && col("source") === "web")
    val files = Files.list(Paths.get(dir, "lang=en", "source=web"))
      .filter(p => p.getFileName.toString.endsWith(".json.gz")).count()
    assert(pruned.rdd.getNumPartitions === files.toInt)
    assert(pruned.select("doc_id").as[Long].collect().toSeq === Seq(1L))
    // a range filter on the inner key prunes across all outer dirs
    assert(back.filter(col("source") >= "w").count() === 3L)
  }

  test("partValuesFromPath decodes the full escaped ancestor chain") {
    import graft.sources.dsv2.JsonlLayout
    val p = new org.apache.hadoop.fs.Path(
      "/t/lang=c%2B%2B/date=__HIVE_DEFAULT_PARTITION__/part-0.jsonl")
    assert(JsonlLayout.partValuesFromPath(p) ===
      Map("lang" -> Some("c++"), "date" -> None))
    assert(JsonlLayout.partValuesFromPath(
      new org.apache.hadoop.fs.Path("/t/flat/part-0.jsonl")) === Map.empty)
  }

  test("micro-batch stream works over a partitioned layout") {
    val dir = Fixtures.tempDir("graft_dsv2_partstream").toString
    Seq((1L, "a", "en", "s", 1L), (2L, "b", "fr", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").option("compression", "gzip")
      .partitionBy("lang").json(dir)
    val q = spark.readStream.format("graft-jsonl").load(dir)
      .writeStream.format("memory").queryName("jsonl_part_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    val got = spark.table("jsonl_part_stream")
      .select("doc_id", "lang").as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, "en"), (2L, "fr"))) // lang injected from dirs
    q.stop()
  }

  test("published shard names embed the write's queryId (cross-application append safety)") {
    val out = Fixtures.tempDir("graft_dsv2_names").toString
    val df = Seq((1L, "a", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    df.write.format("graft-jsonl").mode("append").save(out)
    df.write.format("graft-jsonl").mode("append").save(out)
    val names = Files.list(Paths.get(out)).map(_.getFileName.toString)
      .filter(_.endsWith(".jsonl.gz")).toArray.map(_.toString)
    assert(names.length === 2)
    // each name carries its job's UUID -> two apps can never collide
    assert(names.forall(_.matches("part-\\d{5}-\\d+-[0-9a-f-]{36}\\.jsonl\\.gz")),
      names.mkString(", "))
  }

  test("overwrite truncates a previously PARTITIONED table recursively") {
    val dir = Fixtures.tempDir("graft_dsv2_truncpart").toString
    Seq((1L, "a", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").option("compression", "gzip")
      .partitionBy("lang").json(dir)
    Seq((9L, "z", "de", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.format("graft-jsonl").mode("overwrite").save(dir)
    val back = spark.read.format("graft-jsonl").load(dir)
    assert(back.select("doc_id").as[Long].collect().toSeq === Seq(9L))
    assert(!Files.exists(Paths.get(dir, "lang=en")))
  }

  test("micro-batch stream: each batch reads exactly the newly-arrived shards") {
    val dir = Fixtures.tempDir("graft_dsv2_stream").toString
    writeShard(dir, "s1.jsonl", Seq(
      """{"doc_id": 1, "text": "a", "lang": "en", "source": "s", "n_chars": 1}"""))
    val stream = spark.readStream.format("graft-jsonl").load(dir)
      .filter(col("lang") === "en") // pushdown applies to streaming too
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("jsonl_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("jsonl_stream").count() === 1L)
    writeShard(dir, "s2.jsonl", Seq(
      """{"doc_id": 2, "text": "b", "lang": "en", "source": "s", "n_chars": 1}""",
      """{"doc_id": 3, "text": "c", "lang": "fr", "source": "s", "n_chars": 1}"""))
    q.processAllAvailable()
    // shard 2 contributed only its en row; shard 1 not re-read
    assert(spark.table("jsonl_stream").select("doc_id").as[Long]
      .collect().sorted === Array(1L, 2L))
    q.stop()
  }

  test("append into a partitioned table stays visible (root shards beside partition dirs)") {
    val dir = Fixtures.tempDir("graft_dsv2_mixed").toString
    val base = Seq((1L, "a", "en", "s", 1L), (2L, "b", "fr", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    JsonlCorpus.write(base, dir, partitionCol = Some("lang")) // lang=*/ dirs
    val extra = Seq((3L, "c", "de", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    extra.write.format("graft-jsonl").mode("append").save(dir) // publishes into the root
    val back = spark.read.format("graft-jsonl").load(dir)
    assert(back.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // the appended row's lang comes from its JSON line, not a dir name
    assert(back.filter(col("lang") === "de").select("doc_id")
      .as[Long].collect().toSeq === Seq(3L))
    // partition pruning on the k=v dirs composes with the root shard
    assert(back.filter(col("lang") === "en").select("doc_id")
      .as[Long].collect().toSeq === Seq(1L))
  }

  test("pushed numeric filters coerce to the declared column type (pushdown == residual)") {
    val dir = Fixtures.tempDir("graft_dsv2_coerce").toString
    writeShard(dir, "c.jsonl", Seq(
      """{"doc_id": 1, "text": "frac", "lang": "en", "source": "s", "n_chars": 2.7}""",
      """{"doc_id": 2, "text": "int", "lang": "en", "source": "s", "n_chars": 3}""",
      """{"doc_id": 3, "text": "str", "lang": "en", "source": "s", "n_chars": "9"}"""))
    val df = spark.read.format("graft-jsonl").load(dir)
    // n_chars is LongType: 2.7 materializes as 2 (asLong), so the
    // pushed filter must compare 2 as well — doc 1 fails > 2 and
    // matches === 2, exactly as the residual path would decide
    assert(df.filter(col("n_chars") > 2).select("doc_id")
      .as[Long].collect().toSeq === Seq(2L))
    assert(df.filter(col("n_chars") === 2).select("doc_id")
      .as[Long].collect().toSeq === Seq(1L))
    // a textual value in a numeric column materializes as null ->
    // pushed comparisons and IsNotNull must agree
    assert(df.filter(col("n_chars").isNotNull).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(df.filter(col("n_chars") <= 100).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("stream offsets round-trip through their JSON form") {
    val off = graft.sources.dsv2.JsonlWatermarkOffset(1700000000123L,
      Seq("/a/x.jsonl", "/a/y.jsonl"))
    assert(graft.sources.dsv2.JsonlWatermarkOffset.fromJson(off.json()) === off)
    // the pre-watermark form (a JSON array of every file seen) is
    // rejected by name, not read as a watermark object
    val e = intercept[IllegalArgumentException](
      graft.sources.dsv2.JsonlWatermarkOffset.fromJson("""["/a/x.jsonl","/a/y.jsonl"]"""))
    assert(e.getMessage.contains("pre-watermark"))
  }

  test("watermark offsets stay O(1): size does not grow with batch count") {
    val dir = Fixtures.tempDir("graft_dsv2_o1").toString
    def doc(i: Int) =
      s"""{"doc_id": $i, "text": "t", "lang": "en", "source": "s", "n_chars": 1}"""
    writeShard(dir, "w0.jsonl", Seq(doc(0)))
    // maxFileAgeMs=0: strict mtime high-water mark — `recent` holds
    // only the newest file(s), never the history
    val q = spark.readStream.format("graft-jsonl")
      .option("maxFileAgeMs", "0").load(dir)
      .writeStream.format("memory").queryName("jsonl_o1")
      .outputMode("append").start()
    q.processAllAvailable()
    val sizes = (1 to 6).map { i =>
      Thread.sleep(5) // strictly newer mtime than the previous max
      writeShard(dir, s"w$i.jsonl", Seq(doc(i)))
      q.processAllAvailable()
      q.lastProgress.sources(0).endOffset.length
    }
    // every shard read exactly once across the 7 batches
    assert(spark.table("jsonl_o1").select("doc_id").as[Long]
      .collect().sorted.toSeq === (0L to 6L))
    // the offset stopped remembering old shards: its JSON is the same
    // size after 6 more batches (same-length names by construction)
    assert(sizes.last === sizes.head, sizes.mkString(","))
    q.stop()
  }

  test("stream restart resumes from the checkpointed watermark, no re-read") {
    val dir = Fixtures.tempDir("graft_dsv2_restart").toString
    val ckpt = Fixtures.tempDir("graft_dsv2_restart_ckpt").toString
    def doc(i: Int) =
      s"""{"doc_id": $i, "text": "t", "lang": "en", "source": "s", "n_chars": 1}"""
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format("graft-jsonl").load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.select("doc_id").collect().map(_.getLong(0))
          got.synchronized { got ++= ids }; ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    writeShard(dir, "r1.jsonl", Seq(doc(1)))
    run()
    assert(got.toSeq === Seq(1L))
    writeShard(dir, "r2.jsonl", Seq(doc(2)))
    run() // fresh query, offsets restored via deserializeOffset
    assert(got.sorted.toSeq === Seq(1L, 2L)) // r1 NOT re-read
  }

  test("restart with an empty/unreachable listing does not rewind the watermark") {
    import graft.sources.dsv2.{JsonlMicroBatchStream, JsonlWatermarkOffset}
    // recovery scenario: checkpointed watermark restored, then the
    // drop directory is momentarily missing (unmounted volume,
    // object-store list gap). latestOffset must hand back the
    // checkpointed offset — a zero offset here would be COMMITTED and
    // replay every shard as a duplicate once the files reappear
    val gone = Fixtures.tempDir("graft_dsv2_gone").toString + "/missing"
    val s = new JsonlMicroBatchStream(gone, dsv2.schema, dsv2.schema,
      Array.empty)
    val ckpt = JsonlWatermarkOffset(1700000000000L, Seq("/drop/z.jsonl"))
    s.deserializeOffset(ckpt.json())
    assert(s.latestOffset() === ckpt)
  }

  test("columnar read path: ColumnarToRow in the plan, bit-parity with row reads") {
    val colr = spark.read.format("graft-jsonl").option("columnar", "true")
      .load(fixture)
    val rowr = spark.read.format("graft-jsonl").load(fixture) // row default
    assert(colr.exceptAll(rowr).isEmpty && rowr.exceptAll(colr).isEmpty)
    // the scan emits batches: Spark inserts the vectorized transition
    val plan = colr.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"plan:\n$plan")
    assert(!rowr.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    // pushdown, pruning, and null semantics ride through the batches
    assert(colr.filter(col("lang") === "en" && col("n_chars") >= 5)
      .select("doc_id").as[Long].collect().sorted === Array(1L, 4L))
    assert(colr.filter(col("text").isNull).select("doc_id")
      .as[Long].collect().sorted === Array(3L, 4L))
    // partitioned layouts: injected values fill vectors too
    val dir = Fixtures.tempDir("graft_dsv2_colpart").toString
    Seq((1L, "a", "en", "s", 1L), (2L, "b", null.asInstanceOf[String], "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").option("compression", "gzip")
      .partitionBy("lang").json(dir)
    val back = spark.read.format("graft-jsonl").option("columnar", "true").load(dir)
    assert(back.select("doc_id", "lang").as[(Long, Option[String])].collect()
      .sortBy(_._1).toSeq === Seq((1L, Some("en")), (2L, None)))
  }

  test("write/read round-trip preserves escapes, unicode, and nulls") {
    val out = Fixtures.tempDir("graft_dsv2_rt").toString
    val tricky = Seq(
      (1L, "line\nbreak and \"quotes\" and \\slash", "en", "s", 1L),
      (2L, "unicode: héllo 中文 🚀", "zh", "s", 2L),
      (3L, null.asInstanceOf[String], "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    tricky.write.format("graft-jsonl").mode("overwrite").save(out)
    val back = spark.read.format("graft-jsonl").load(out)
    assert(back.exceptAll(tricky).isEmpty && tricky.exceptAll(back).isEmpty)
    // and the built-in reader agrees (cross-engine JSON validity)
    val builtin = JsonlCorpus.readClean(spark, out)
    assert(builtin.exceptAll(tricky).isEmpty && tricky.exceptAll(builtin).isEmpty)
  }

  test("COUNT(*) pushes down: plan shows the pushed aggregation, counts agree") {
    val df = dsv2.groupBy().count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT(*)]"), s"plan:\n$plan")
    assert(df.head().getLong(0) === 5L) // malformed line still skips
    // filtered count: pushed filter applies BEFORE the partial count
    val filtered = spark.read.format("graft-jsonl").load(fixture)
      .filter(col("lang") === "en").groupBy().count()
    assert(filtered.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(filtered.head().getLong(0) === 3L)
    // grouped/other aggregates do NOT push: full rows still flow
    val grouped = dsv2.groupBy("lang").count()
    assert(!grouped.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(grouped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("en" -> 3L, "fr" -> 1L, "de" -> 1L))
    val summed = dsv2.agg(sum("n_chars"))
    assert(!summed.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
  }

  test("runtime filtering: an execution-time IN filter prunes partition dirs") {
    val dir = Fixtures.tempDir("graft_dsv2_rtf").toString
    for (lang <- Seq("en", "fr", "de"))
      writeShard(s"$dir/lang=$lang", "p.jsonl", Seq(
        s"""{"doc_id": 1, "text": "x", "lang": "$lang", "source": "s", "n_chars": 1}"""))
    val scan = spark.read.format("graft-jsonl").load(dir)
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }.head
    val rtf = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    // the scan advertises its partition keys as filterable
    assert(rtf.filterAttributes().map(_.describe()).toSeq === Seq("lang"))
    val batch = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
    assert(batch.planInputPartitions().length === 3)
    // a runtime IN filter (what DPP delivers from the dim side) prunes
    rtf.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("lang", Array("en", "de"))))
    assert(batch.planInputPartitions().length === 2)
    // filters on non-partition columns prune nothing (conservative)
    rtf.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("doc_id", Array(99L))))
    assert(batch.planInputPartitions().length === 3)
  }

  test("dynamic partition pruning fires on a broadcast join over the partition key") {
    val dir = Fixtures.tempDir("graft_dsv2_dpp").toString
    for (lang <- Seq("en", "fr", "de", "zh"))
      writeShard(s"$dir/lang=$lang", "p.jsonl", (0 until 5).map(i =>
        s"""{"doc_id": $i, "text": "t$i", "lang": "$lang", "source": "s", "n_chars": 2}"""))
    val dim = Seq(("en", 1), ("de", 2)).toDF("lang", "weight")
    val joined = spark.read.format("graft-jsonl").load(dir)
      .join(broadcast(dim), "lang")
    // correctness regardless of whether the planner injected the filter
    assert(joined.count() === 10)
    val plan = joined.queryExecution.executedPlan.toString
    // the v2 scan accepts runtime filters; when the planner plants one
    // it is visible as a dynamicpruning subquery on the scan
    if (plan.toLowerCase.contains("dynamicpruning"))
      assert(joined.count() === 10) // pruned run returns identical rows
  }

  test("LIMIT pushes into the reader: plan shows PushedLimit, rows correct") {
    val df = dsv2.limit(3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 3"), s"plan:\n$plan")
    assert(df.count() === 3)
    // limit composes with pushed filters: post-filter semantics
    val f = spark.read.format("graft-jsonl").load(fixture)
      .filter(col("lang") === "en").limit(2)
    assert(f.queryExecution.executedPlan.toString.contains("PushedLimit: 2"))
    assert(f.collect().length === 2)
    assert(f.collect().forall(_.getString(2) == "en"))
    // a limit larger than the data returns everything
    assert(dsv2.limit(100).count() === 5)
  }

  test("scan reports partition-pruned byte statistics to the planner") {
    val dir = Fixtures.tempDir("graft_dsv2_stats").toString
    writeShard(s"$dir/lang=en", "p.jsonl",
      Seq("""{"doc_id": 1, "text": "aaaa", "lang": "en", "source": "s", "n_chars": 4}"""))
    writeShard(s"$dir/lang=fr", "q.jsonl", Seq(
      """{"doc_id": 2, "text": "bbbb", "lang": "fr", "source": "s", "n_chars": 4}""",
      """{"doc_id": 3, "text": "cccc", "lang": "fr", "source": "s", "n_chars": 4}"""))
    def statsOf(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats.sizeInBytes
      }.head
    val full = statsOf(spark.read.format("graft-jsonl").load(dir))
    val pruned = statsOf(spark.read.format("graft-jsonl").load(dir)
      .filter(col("lang") === "en"))
    val enBytes = Files.size(Paths.get(s"$dir/lang=en", "p.jsonl"))
    val frBytes = Files.size(Paths.get(s"$dir/lang=fr", "q.jsonl"))
    assert(full === BigInt(enBytes + frBytes))
    assert(pruned === BigInt(enBytes), "pruned slice must report its own bytes")
  }

  test("nested + temporal types round-trip through a catalog table") {
    val s = spark
    s.conf.set("spark.sql.catalog.nt", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.nt.root",
      Fixtures.tempDir("graft-nested").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS nt.ns")
    s.sql("""CREATE TABLE nt.ns.t (
            |  id BIGINT,
            |  ts TIMESTAMP_NTZ,
            |  d DATE,
            |  meta STRUCT<score: DOUBLE, tags: ARRAY<STRING>>,
            |  attrs MAP<STRING, BIGINT>
            |)""".stripMargin)
    s.sql("""INSERT INTO nt.ns.t VALUES
            |  (1, TIMESTAMP_NTZ'2024-03-01 12:30:45.123456', DATE'2024-03-01',
            |   named_struct('score', 0.75, 'tags', array('a', 'b')),
            |   map('k1', 10L, 'k2', 20L)),
            |  (2, NULL, NULL,
            |   named_struct('score', CAST(NULL AS DOUBLE),
            |     'tags', CAST(NULL AS ARRAY<STRING>)),
            |   NULL)""".stripMargin)
    val r1 = s.sql(
      """SELECT ts, d, meta.score, meta.tags[1] AS t1, attrs['k2'] AS k2
        |FROM nt.ns.t WHERE id = 1""".stripMargin).head
    assert(r1.getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.of(2024, 3, 1, 12, 30, 45, 123456000),
      "micros survive the round-trip bit-exactly")
    assert(r1.getAs[java.sql.Date]("d").toString == "2024-03-01")
    assert(r1.getDouble(2) == 0.75 && r1.getString(3) == "b" &&
      r1.getLong(4) == 20L)
    val r2 = s.sql("SELECT ts, d, meta, attrs FROM nt.ns.t WHERE id = 2").head
    assert(r2.isNullAt(0) && r2.isNullAt(1) && r2.isNullAt(3))
    assert(r2.getStruct(2).isNullAt(0) && r2.getStruct(2).isNullAt(1),
      "nulls survive inside a struct")
    // temporal predicates stay RESIDUAL (never pushed into the
    // reader, whose pushdown understands scalars only) yet filter
    assert(s.sql("SELECT id FROM nt.ns.t WHERE d >= DATE'2024-01-01'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // MERGE/COW rewrite carries nested values intact
    s.sql("UPDATE nt.ns.t SET id = 3 WHERE id = 1")
    assert(s.sql("SELECT meta.tags[0] FROM nt.ns.t WHERE id = 3")
      .head.getString(0) == "a")
  }

  test("external JSONL: ISO temporal text, nested objects, and mismatches read safely") {
    val dir = Fixtures.tempDir("graft_dsv2_nested").toString
    writeShard(dir, "x.jsonl", Seq(
      // ISO text forms for temporal; nested object + array
      """{"id": 1, "ts": "2024-03-01T12:30:45.5", "d": "2024-03-01", "meta": {"score": 1.5, "tags": ["x"]}}""",
      // numeric forms: epoch micros / epoch days
      """{"id": 2, "ts": 1709296245500000, "d": 19783, "meta": {"score": 2.0, "tags": []}}""",
      // mismatches at every level -> SQL null, never a crash
      """{"id": 3, "ts": {"not": "a time"}, "d": "garbage", "meta": [1, 2]}"""))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, ts TIMESTAMP_NTZ, d DATE, " +
        "meta STRUCT<score: DOUBLE, tags: ARRAY<STRING>>")
    val df = spark.read.format("graft-jsonl").schema(schema).load(dir)
    val rows = df.orderBy(col("id")).collect()
    assert(rows(0).getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.of(2024, 3, 1, 12, 30, 45, 500000000))
    assert(rows(0).getAs[java.sql.Date]("d").toString == "2024-03-01")
    assert(rows(0).getStruct(3).getDouble(0) == 1.5)
    assert(rows(1).getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.of(2024, 3, 1, 12, 30, 45, 500000000),
      "epoch-micros number decodes to the same instant")
    assert(rows(1).getAs[java.sql.Date]("d").toString == "2024-03-01",
      "epoch-days number decodes to the same date")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2) && rows(2).isNullAt(3))
    // the columnar opt-in quietly takes the row path for nested
    // schemas — same answers
    val columnar = spark.read.format("graft-jsonl")
      .option("columnar", true).schema(schema).load(dir)
    assert(columnar.orderBy(col("id")).collect().toSeq == rows.toSeq)
  }
}
