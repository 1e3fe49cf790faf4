package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, LambdaFunction}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.app.BfrApp
import graft.bfr.BFR
import graft.core.ClusterSummary
import graft.eval.Nmi
import graft.sources.{PointSource, Sinks}
import graft.streaming.Streaming

/** End-to-end test of the argv-compatible driver on a reference-layout
  * chunked CSV dataset, plus source/sink unit checks (SURVEY.md §2.1).
  */
class AppAndIoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  /** Write a chunked dataset in the reference's layout: data0.txt..dataN.txt
    * of `id,f0,...` lines (FIXTURES.md §1).
    */
  def writeChunkedDataset(dir: String, nChunks: Int, outliers: Int = 12): Map[Long, Int] = {
    val base = TestBlobs.generate(spark, n = 1200, k = 4, d = 3, outliers = outliers)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))
    Files.createDirectories(Paths.get(dir))
    (0 until nChunks).foreach { c =>
      val lines = base.filter(_._1 % nChunks == c)
        .map { case (id, f, _) => s"$id,${f.mkString(",")}" }
      Files.write(Paths.get(s"$dir/data$c.txt"),
        lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    base.map { case (id, _, l) => id -> l }.toMap
  }

  test("PointSource parses id,features lines with inferred dimensionality") {
    val f = Files.createTempFile("points", ".txt")
    Files.write(f, "0,-40.0,-73.5\n1,2.5,3.5\n\n2,1.0,2.0\n".getBytes)
    val df = PointSource.readChunk(spark, f.toString)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3) // blank line dropped
    assert(rows(0).getLong(0) == 0L)
    assert(rows(0).getSeq[Double](1).toSeq == Seq(-40.0, -73.5))
  }

  test("PointSource drops malformed lines instead of emitting nulls") {
    val f = Files.createTempFile("points_bad", ".txt")
    Files.write(f,
      "0,1.0,2.0\nnot_an_id,3.0,4.0\n1,abc,5.0\n2\n3,6.0,7.0\n".getBytes)
    val rows = PointSource.readChunk(spark, f.toString).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 3L),
      s"kept ${rows.map(_.getLong(0)).toSeq}")
  }

  test("readChunkStrict drops ragged lines (d from first row, code/bfr.py:145)") {
    val f = Files.createTempFile("points_ragged", ".txt")
    Files.write(f, "0,1.0,2.0\n1,3.0\n2,4.0,5.0,6.0\n3,7.0,8.0\n".getBytes)
    val rows = PointSource.readChunkStrict(spark, f.toString).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 3L),
      s"kept ${rows.map(_.getLong(0)).toSeq}")
  }

  /** The chunk parse as it stood over `spark.read.text`, Catalyst
    * higher-order functions and `try_cast` — the oracle for
    * [[PointSource.parseLine]] over Hadoop line splits.
    */
  private def textSourceParse(file: String) = {
    val parts = split(col("value"), ",")
    spark.read.text(file)
      .filter(length(trim(col("value"))) > 0)
      .select(
        element_at(parts, 1).try_cast("long").as("id"),
        transform(slice(parts, lit(2), size(parts) - 1), _.try_cast("double")).as("features"))
      .filter(col("id").isNotNull && size(col("features")) > 0 &&
        !array_contains(transform(col("features"), _.isNull), true))
  }

  /** (id, feature bit patterns) sorted by id, then bits: bit-exact, and
    * NaN equals itself.
    */
  private def idFeatures(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Long])] =
    df.collect().map(r => (r.getLong(0),
      r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits).toSeq)).toSeq
      .sortBy(t => (t._1, t._2.mkString(",")))

  private def strictOracle(file: String) = {
    val df = textSourceParse(file)
    df.filter(size(col("features")) === df.select(size(col("features"))).head().getInt(0))
  }

  test("readChunk splits a chunk above the open-cost floor across every core") {
    // 4 MB is spark.sql.files.openCostInBytes' default: the file source
    // packs a ~7 MB file into 2 partitions, Hadoop line splits into
    // defaultParallelism
    val f = Files.createTempFile("points_big", ".txt")
    val w = Files.newBufferedWriter(f)
    try (0 until 200000).foreach(i => w.write(s"$i,${i * 0.5},-${i * 0.25},1.0e-3,${i % 7}.125\n"))
    finally w.close()
    assert(Files.size(f) > (5L << 20))
    val df = PointSource.readChunk(spark, f.toString)
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(df.count() == 200000L)
  }

  test("readChunk and readChunkStrict keep exactly the rows of the text-source parse") {
    val f = Files.createTempFile("points_mixed", ".txt")
    // blank lines, a non-numeric id, empty feature lists, a non-numeric
    // feature, ragged lines, CRLF endings and no trailing newline
    Files.write(f, ("3,1.5,2.5\r\n\n0,-40.0,-73.5\r\nid,1.0,2.0\n  \n7,\n8\n" +
      "9,abc,1.0\r\n4,1.0\n5,6.0,7.0,8.0\r\n\r\n11,1e3,-0.0\n2,2.0,NaN").getBytes)
    assert(idFeatures(PointSource.readChunk(spark, f.toString)) ==
      idFeatures(textSourceParse(f.toString)))
    val strict = idFeatures(PointSource.readChunkStrict(spark, f.toString))
    assert(strict == idFeatures(strictOracle(f.toString)))
    assert(strict.map(_._1) == Seq(0L, 2L, 3L, 11L), s"kept $strict")
  }

  test("parseLine keeps exactly the rows and bits of the try_cast parse on fuzzed lines") {
    // tokens where a hand parse and Spark's casts part ways: truncating
    // ids ("1.9", "1.", ".5" are NULL under try_cast), Java-only double
    // syntax (suffixes, hex), special literals, overflow, non-ASCII
    // digits, whitespace padding
    val idTok = Gen.oneOf("0", "7", "-3", "+5", "007", "1.9", "1.", ".5", "1e3", "0x10",
      "9223372036854775807", "9223372036854775808", "-9223372036854775808",
      " 12 ", "\t4\t", "\u0663", "1L", "abc", "", " ", "-")
    val featTok = Gen.oneOf("1.5", "-0.0", "0", "2.", ".25", "1e3", "1d", "2.5f", "3D",
      "0x1p3", "0x1.8p1", "-INF", "inf", "+inf", "Infinity", "-infinity", "NaN", "+NaN",
      "nan", "1e400", "-1e-400", "4.9E-324", "1.7976931348623157E308", " 3.5 ",
      "\t2.5\t", "\u0663", "1_000", "--1", "1e", "abc", "", " ")
    val numeric = Gen.chooseNum(-1000000L, 1000000L).map(_.toString)
    val feature = Gen.frequency(3 -> Gen.chooseNum(-1e6, 1e6).map(_.toString), 2 -> featTok)
    val point = for {
      id <- Gen.frequency(3 -> numeric, 2 -> idTok)
      d <- Gen.frequency(6 -> Gen.const(3), 1 -> Gen.choose(0, 5))
      fs <- Gen.listOfN(d, feature)
      trailingComma <- Gen.frequency(9 -> false, 1 -> true)
    } yield (id +: fs).mkString(",") + (if (trailingComma) "," else "")
    val line = Gen.frequency(20 -> point,
      1 -> Gen.oneOf("", "   ", "\t", " \t ", ",", "7", "7,", " ,1.0"))
    val eol = Gen.frequency(4 -> "\n", 1 -> "\r\n")
    val file = Gen.listOfN(4000, Gen.zip(line, eol)).map { ls =>
      // a valid first row fixes readChunkStrict's d at 3; no final newline
      ("0,1.0,2.0,3.0\n" +: ls.map { case (l, e) => l + e }).mkString.stripSuffix("\n")
    }
    val text = file.pureApply(Gen.Parameters.default, Seed(20261019L))
    val f = Files.createTempFile("points_fuzz", ".txt")
    Files.write(f, text.getBytes(StandardCharsets.UTF_8))

    val got = idFeatures(PointSource.readChunk(spark, f.toString))
    val want = idFeatures(textSourceParse(f.toString))
    val (kept, oracleKept) = (got.size, want.size)
    assert(kept == oracleKept, s"kept $kept rows, the try_cast parse $oracleKept")
    assert(got == want, s"first difference: ${got.zip(want).find(t => t._1 != t._2)}")
    val strict = idFeatures(PointSource.readChunkStrict(spark, f.toString))
    assert(strict == idFeatures(strictOracle(f.toString)))
    // not vacuous: many rows kept and many dropped, ragged rows among the kept
    val lines = text.split("\r?\n", -1).length
    assert(want.size > lines / 4 && want.size < lines * 3 / 4, s"${want.size} of $lines kept")
    assert(strict.size < want.size)
  }

  test("readChunkStrict takes d from a gzip chunk's first kept line and names an empty chunk") {
    // the first line is dropped, so d comes from the second: 2, not 3
    val text = "x,1.0,2.0,3.0\n0,1.0,2.0\n1,3.0,4.0,5.0\n2,6.0,7.0\n"
    val gz = Files.createTempFile("points", ".txt.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val rows = PointSource.readChunkStrict(spark, gz.toString).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 2L), s"kept ${rows.map(_.getLong(0)).toSeq}")
    val empty = Files.createTempFile("points_empty", ".txt")
    Files.write(empty, "\n  \nid,1.0\n".getBytes)
    val e = intercept[NoSuchElementException](PointSource.readChunkStrict(spark, empty.toString))
    assert(e.getMessage.contains(empty.toString), e.getMessage)
  }

  test("the chunk parse, batch and streaming, plans no higher-order function") {
    def hofs(p: LogicalPlan) = p.flatMap(_.expressions.flatMap(_.collect {
      case e: ArrayTransform => e
      case e: LambdaFunction => e
    }))
    val f = Files.createTempFile("points_plan", ".txt")
    Files.write(f, "0,1.0,2.0\n1,3.0,4.0\n".getBytes)
    val batch = PointSource.readChunk(spark, f.toString).queryExecution.optimizedPlan
    assert(hofs(batch).isEmpty, s"readChunk plans a higher-order function:\n$batch")
    val emb = PointSource.fromEmbeddings(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan
    assert(hofs(emb).isEmpty, s"fromEmbeddings plans a higher-order function:\n$emb")

    val dir = Files.createTempDirectory("points_stream")
    Files.write(dir.resolve("data0.txt"), "0,1.0,2.0\n".getBytes)
    val stream = Streaming.chunkStream(spark, dir.toString)
    assert(stream.isStreaming)
    // a streaming frame's own optimizedPlan refuses to plan as a batch
    // query, so run the session's optimizer on its analyzed plan
    val streamPlan = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.optimizer.execute(stream.queryExecution.analyzed)
    assert(hofs(streamPlan).isEmpty, s"chunkStream plans a higher-order function:\n$streamPlan")
  }

  test("listChunks is lexicographic (round order, code/bfr.py:432)") {
    val d = Files.createTempDirectory("chunks")
    Seq("data2.txt", "data0.txt", "data1.txt").foreach(n =>
      Files.write(d.resolve(n), "0,1.0".getBytes))
    val got = PointSource.listChunks(d.toString).map(p => Paths.get(p).getFileName.toString)
    assert(got == Seq("data0.txt", "data1.txt", "data2.txt"))
  }

  test("BfrApp end-to-end: JSON object + stats CSV in the reference format") {
    val dir = Files.createTempDirectory("bfrds").toString
    val truth = writeChunkedDataset(dir, nChunks = 3)
    val outJson = s"$dir/out_clusters.json"
    val outCsv = s"$dir/out_stats.csv"
    BfrApp.main(Array(dir, "4", outJson, outCsv))

    // sink 1: one JSON object, string keys, int labels (HW4.pdf §4.3a)
    val js = new String(Files.readAllBytes(Paths.get(outJson)), StandardCharsets.UTF_8)
    assert(js.startsWith("{") && js.endsWith("}"))
    val pairs = js.stripPrefix("{").stripSuffix("}").split(",").map { kv =>
      val Array(k, v) = kv.split(":").map(_.trim)
      k.stripPrefix("\"").stripSuffix("\"").toLong -> v.toInt
    }.toMap
    assert(pairs.size == truth.size, s"expected ${truth.size} entries, got ${pairs.size}")

    // NMI vs ground truth above the pass bar
    import spark.implicits._
    val predDf = pairs.toSeq.toDF("id", "cluster")
    val truthDf = truth.toSeq.toDF("id", "label")
    val nmi = Nmi.score(predDf, truthDf)
    assert(nmi > 0.8, s"app NMI $nmi below pass bar")

    // sink 2: header + one row per round, monotone discard counts
    val csv = Files.readAllLines(Paths.get(outCsv))
    assert(csv.get(0) == "round_id,nof_cluster_discard,nof_point_discard," +
      "nof_cluster_compression,nof_point_compression,nof_point_retained")
    assert(csv.size == 4) // header + 3 rounds
    val discards = (1 until csv.size).map(i => csv.get(i).split(",")(2).toLong)
    assert(discards.zip(discards.tail).forall { case (a, b) => a <= b })
  }

  test("BfrApp --seed / --best-of: restarts are deterministic, best kept") {
    val dir = Files.createTempDirectory("bfrseed").toString
    val out = Files.createTempDirectory("bfrseed_out").toString // not the chunk dir
    val truth = writeChunkedDataset(dir, nChunks = 3)
    // three restarts individually, then the best-of-3 protocol run
    BfrApp.main(Array(dir, "4", s"$out/s0.json", s"$out/s0.csv", "--seed", "0"))
    BfrApp.main(Array(dir, "4", s"$out/s1.json", s"$out/s1.csv", "--seed", "1"))
    BfrApp.main(Array(dir, "4", s"$out/s1b.json", s"$out/s1b.csv", "--seed", "1"))
    BfrApp.main(Array(dir, "4", s"$out/s2.json", s"$out/s2.csv", "--seed", "2"))
    BfrApp.main(Array(dir, "4", s"$out/best.json", s"$out/best.csv",
      "--best-of", "3"))
    def labels(p: String): Map[Long, Int] = {
      val js = new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
      js.stripPrefix("{").stripSuffix("}").split(",").map { kv =>
        val Array(k, v) = kv.split(":").map(_.trim)
        k.stripPrefix("\"").stripSuffix("\"").toLong -> v.toInt
      }.toMap
    }
    assert(labels(s"$out/s1.json") == labels(s"$out/s1b.json"),
      "same seed must reproduce identical assignments")
    // the protocol's pick is exactly one of the member runs
    val best = labels(s"$out/best.json")
    val members = Seq("s0", "s1", "s2").map(n => labels(s"$out/$n.json"))
    assert(members.contains(best), "best-of must return one of its member runs")
    // the reference's quality bar holds for the default-seed run
    import spark.implicits._
    val truthDf = truth.toSeq.toDF("id", "label")
    val nmi0 = Nmi.score(labels(s"$out/s0.json").toSeq.toDF("id", "cluster"), truthDf)
    assert(nmi0 > 0.8, s"seed-0 NMI $nmi0 below pass bar")
  }

  test("JSON-object label source round-trips the assignment sink (S4/S6)") {
    import spark.implicits._
    val df = Seq((1L, 0), (2L, 1), (3L, -1)).toDF("id", "cluster")
    val f = Files.createTempFile("labels", ".json").toString
    Sinks.writeAssignmentsJsonObject(df, f)
    val back = Sinks.readJsonObjectLabels(spark, f).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 0), (2L, 1), (3L, -1)))
  }

  test("JSON-object sink is byte-identical to the grouped form on duplicate ids") {
    import spark.implicits._
    val df = Seq((3L, -1), (3L, 2), (1L, 0), (10L, 5), (2L, -1), (2L, -1), (7L, 4),
      (7L, 1), (-4L, 3), (1000000000000L, -1), (0L, 2), (0L, -1)).toDF("id", "cluster")
      .repartition(4)
    val f = Files.createTempFile("labels_dup", ".json")
    Sinks.writeAssignmentsJsonObject(df, f.toString)
    // the sink's former Spark formulation, kept as the oracle
    val oracle = df.groupBy(col("id")).agg(max(col("cluster")).as("cluster"))
      .orderBy("id").collect()
      .map(r => s"\"${r.getLong(0)}\": ${r.getInt(1)}").mkString("{", ", ", "}")
    assert(new String(Files.readAllBytes(f), StandardCharsets.UTF_8) == oracle)
  }

  test("columnar source/sink breadth: ORC round-trips with pushdown") {
    import spark.implicits._
    val dir = Files.createTempDirectory("orc_io").toString
    val df = (1L to 1000L).map(i => (i, s"name$i", i * 1.5)).toDF("id", "name", "v")
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir).filter(col("id") > 990).select("id", "v")
    assert(back.count() == 10)
    val p = back.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,990)]"),
      s"ORC pushdown missing:\n$p")
    assert(p.contains("ReadSchema: struct<id:bigint,v:double>"),
      s"ORC pruning missing:\n$p")
  }

  test("mergeCs merges close summaries and remaps indices (M7, bug-fixed)") {
    def mk(center: Array[Double], n: Int): ClusterSummary =
      (0 until n).foldLeft(ClusterSummary.zero(2))((s, i) =>
        s.add(center.map(_ + (i % 3 - 1) * 0.1)))
    val far = mk(Array(1000.0, 1000.0), 9)
    val a = mk(Array(0.0, 0.0), 9)
    val b = mk(Array(0.05, 0.05), 9) // well within 3*sqrt(2) of a's spread
    val (merged, remap) = BFR.mergeCs(IndexedSeq(a, b, far))
    assert(merged.size == 2, s"expected a+b merged: ${merged.map(_.center.toSeq)}")
    assert(merged.head.n == 18)
    assert(remap.get(1).contains(0) || remap.get(0).contains(0))
    assert(remap(2) == 1) // far kept, shifted down
  }
}
