package graft

import org.apache.spark.sql.functions._

import graft.ops.{IvfPqIndex, Quantize}
import graft.sources.{Gavro, Tables}

/** The materialized IVF-PQ index: gavro persistence roundtrip, prebuilt
  * search ≡ the in-query pipeline per query, build-once idempotence, and
  * the probe-list IN pushdown (including footer-stats file skipping on
  * the cell-clustered codes table). */
class IvfPqIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, sfDir)

  private def freshDir(tag: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(s"ivfpq_spec_$tag").toFile
    d.deleteOnExit(); d
  }

  test("persisted index roundtrips exactly: cells, books, codes") {
    val (coarse, books, codes, _) = Quantize.ivfPqTrainEncode(
      emb.select(col("vec_id"), col("embedding").as("v")))
    val dir = freshDir("rt").getAbsolutePath
    IvfPqIndex.buildAndWrite(emb, dir)
    def cellsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Int]("c_id") ->
        r.getSeq[Double](r.fieldIndex("cv")).toVector).toMap
    assert(cellsOf(IvfPqIndex.loadCells(spark, dir)) == cellsOf(coarse))
    def booksOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Int]("sub_idx"), r.getAs[Int]("c_id")) ->
        r.getSeq[Double](r.fieldIndex("cv")).toVector).toMap
    assert(booksOf(IvfPqIndex.loadBooks(spark, dir)) == booksOf(books))
    val onDisk = spark.read.format("gavro").option("schema", "ivf_codes")
      .load(s"$dir/codes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Int]("sub_idx"), r.getAs[Int]("code"))).toSet
    val inMem = codes.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Int]("sub_idx"), r.getAs[Int]("code"))).toSet
    assert(onDisk == inMem)
    assert(onDisk.size == emb.count() * Quantize.M)
  }

  test("prebuilt search matches the in-query rerank pipeline per query") {
    // Per-query independence: the first five queries of the search-many
    // prebuilt read must answer exactly what the self-contained
    // ann_ivfpq_rerank query answers — same index content, same metric,
    // different execution path (gavro load + IN pushdown vs retrain).
    val prebuilt = IvfPqIndex.searchPrebuilt(spark, sfDir)
      .filter(col("q_id") < Quantize.NumQueries).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"), r.getAs[Long]("vec_id")))
    val inQuery = Quantize.annIvfPqRerankTopK(emb).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"), r.getAs[Long]("vec_id")))
    assert(prebuilt.nonEmpty)
    assert(prebuilt.sorted.sameElements(inQuery.sorted))
    // And the full search-many surface answers every registered query.
    val all = IvfPqIndex.searchPrebuilt(spark, sfDir).collect()
    assert(all.map(_.getAs[Long]("q_id")).distinct.length ==
      IvfPqIndex.SearchQueries)
  }

  test("ensure builds once and reuses the published index") {
    val dir = IvfPqIndex.ensure(spark, sfDir)
    val marker = new java.io.File(dir, "cells")
      .listFiles().filter(_.getName.endsWith(".gavro")).head
    val mtime = marker.lastModified()
    val again = IvfPqIndex.ensure(spark, sfDir)
    assert(again == dir)
    assert(marker.lastModified() == mtime) // no rebuild on the warm path
  }

  test("probe-list IN filter is fully pushed and skips unprobed cells' files") {
    val dir = IvfPqIndex.ensure(spark, sfDir)
    val codes = spark.read.format("gavro").option("schema", "ivf_codes")
      .load(s"$dir/codes")
    val cellsPresent = codes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    assert(cellsPresent.length > 1, "fixture degenerated to one cell")
    val probe = cellsPresent.take(2).toSeq
    val filtered = codes.filter(col("cell").isin(probe.map(Int.box): _*))
    // Fully enforced by the reader: no FilterExec survives above the scan.
    val plan = filtered.queryExecution.executedPlan
    assert(plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty,
      plan.toString)
    val viaScan = filtered.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub_idx"),
        r.getAs[Int]("code"))).toSet
    val viaSpark = codes.collect()
      .filter(r => probe.contains(r.getAs[Int]("cell")))
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub_idx"),
        r.getAs[Int]("code"))).toSet
    assert(viaScan == viaSpark)
    // Footer-stats skipping: a file whose [min,max] cell range excludes
    // every probed value is never planned. The codes table is written
    // range-partitioned by cell, so at least one such file must exist.
    val files = new java.io.File(dir, "codes").listFiles()
      .filter(_.getName.endsWith(".gavro")).sortBy(_.getName)
    val preds = Seq(graft.sources.GavroPred("cell", "in", probe))
    val planned = files.flatMap(f => graft.sources.GavroSkip.planFile(f, preds))
    val all = files.flatMap(f => graft.sources.GavroSkip.planFile(f, Seq.empty))
    assert(planned.length < all.length,
      s"IN skip planned ${planned.length}/${all.length} partitions")
    // Never skips a file it shouldn't: scan-through equals the full set.
    assert(planned.nonEmpty)
  }

  test("appended index: two commits, frozen-codebook delta, idempotent ensure") {
    val dir = IvfPqIndex.ensureAppended(spark, sfDir)
    def commitNames() = new java.io.File(s"$dir/codes", Gavro.CommitsDir)
      .listFiles().map(_.getName).filter(_.endsWith(".commit")).sorted.toSeq
    // exactly two commits: base build, then the delta append
    assert(commitNames().length == 2, commitNames().toString)
    // ensure is idempotent: same live build, no third commit
    assert(IvfPqIndex.ensureAppended(spark, sfDir) == dir)
    assert(commitNames().length == 2)
    // the change feed is exactly the delta: every row a delta id, count =
    // |delta| * M, and base rows never re-read
    val feed = IvfPqIndex.deltaFeedSummary(spark, sfDir).collect()
    assert(feed.nonEmpty)
    assert(feed.forall(_.getAs[Long]("min_vec") >= Quantize.DeltaBase))
    val deltaCount = emb.filter(pmod(col("vec_id"), lit(50)) === 0).count()
    assert(feed.map(_.getAs[Long]("n")).sum == deltaCount * Quantize.M)
  }

  test("append-to-persisted-index search equals the in-query incremental rebuild") {
    val appended = IvfPqIndex.searchAppended(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"), r.getAs[Long]("vec_id")))
    val rebuilt = Quantize.annIvfPqIncrementalTopK(emb).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"), r.getAs[Long]("vec_id")))
    assert(appended.nonEmpty)
    assert(appended.sorted.sameElements(rebuilt.sorted))
    // the fresh twins actually surface: some delta id in the top-k
    assert(appended.exists(_._3 >= Quantize.DeltaBase))
  }

  test("re-rank search over an appended index: top-5 per query, appended ids surface") {
    // The re-rank stage joins full-precision vectors by id, so the corpus
    // frame must carry the appended vectors too, or their ids drop out.
    val dir = IvfPqIndex.ensureAppended(spark, sfDir)
    val corpus = emb.unionByName(Quantize.plantedDelta(emb)
      .select(col("vec_id"), expr("cast(v as array<float>)").as("embedding"),
        lit(-1).as("label")))
    val rows = IvfPqIndex.searchIndex(spark, dir, corpus).collect()
    assert(rows.length == IvfPqIndex.SearchQueries * 5)
    assert(rows.exists(_.getAs[Long]("vec_id") >= Quantize.DeltaBase),
      "no appended vector surfaced in any top-k")
  }

  test("appends then OPTIMIZE compact the codes table losslessly, stats-pruning intact") {
    // The full maintenance cycle a long-lived index lives through:
    // nightly build, two daily frozen fold-ins (small appended files),
    // then the ordinary gavro OPTIMIZE bin-packs the code files — the
    // search is a pure function of the table content, so content
    // equality through the rewrite IS search equality.
    val dir = freshDir("cycle").getAbsolutePath
    IvfPqIndex.buildAndWrite(emb, dir)
    val n = emb.count()
    def batch(shift: Long) = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select((col("vec_id") + shift).as("vec_id"),
        expr("cast(embedding as array<double>)").as("v"))
    IvfPqIndex.appendToIndex(spark, dir, batch(n))
    IvfPqIndex.appendToIndex(spark, dir, batch(2 * n))
    def codes() = spark.read.format("gavro").option("schema", "ivf_codes")
      .load(s"$dir/codes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Int]("sub_idx"), r.getAs[Int]("code"))).toSet
    // the COMMITTED view (absorbed files stay on disk for vacuum's grace)
    def files() = graft.sources.Gavro.listDataFiles(s"$dir/codes")
    val before = codes()
    val nFiles = files().length
    // target ~ half the table: compacts the small append files but keeps
    // >=2 outputs, so the stats-pruning assertion below stays meaningful
    // (name-order packing keeps the cell-clustered ranges contiguous)
    val target = files().map(_.length()).sum / 2
    assert(graft.sources.Gavro.optimize(s"$dir/codes", target).nonEmpty)
    assert(files().length < nFiles,
      s"optimize did not shrink the file count ($nFiles)")
    assert(codes() == before, "codes content changed through the rewrite")
    // footer stats survive the merge fold: a probe-list IN predicate can
    // still exclude at least one file (the merged outputs carry folded
    // cell ranges; the clustered layout keeps ranges disjoint enough)
    val cells = before.map(_._2).toSeq.distinct.sorted
    val preds = Seq(graft.sources.GavroPred("cell", "in", cells.take(1)))
    val planned = files().flatMap(f => graft.sources.GavroSkip.planFile(f, preds))
    val all = files().flatMap(f => graft.sources.GavroSkip.planFile(f, Seq.empty))
    assert(planned.length < all.length,
      s"post-optimize IN skip planned ${planned.length}/${all.length}")
  }

  test("maintain re-routes the codes table: one-cell files restored, log folds, search unchanged") {
    // OPTIMIZE (above) byte-merges, which folds cell RANGES — correct
    // but it erodes the one-cell-per-file proof KGP and exact IN
    // skipping need. maintain is the semantic rewrite that restores it.
    val dir = freshDir("maint").getAbsolutePath
    IvfPqIndex.buildAndWrite(emb, dir)
    val n = emb.count()
    def batch(shift: Long) = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select((col("vec_id") + shift).as("vec_id"),
        expr("cast(embedding as array<double>)").as("v"))
    IvfPqIndex.appendToIndex(spark, dir, batch(n))
    IvfPqIndex.appendToIndex(spark, dir, batch(2 * n))
    // the search corpus must cover the appended ids (re-rank coverage
    // contract) — pre/post maintain answers compare over the SAME corpus
    val embAll = emb.unionByName(
      batch(n).unionByName(batch(2 * n))
        .select(col("vec_id"), expr("cast(v as array<float>)").as("embedding"),
          lit(-1L).as("label")))
      .localCheckpoint(true)
    def search() = IvfPqIndex.searchIndex(spark, dir, embAll).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("vec_id"))).toSeq
    def files() = Gavro.listDataFiles(s"$dir/codes")
    val before = search()
    val filesBefore = files().length
    IvfPqIndex.maintain(spark, dir)
    assert(search() == before, "maintain changed the search answer")
    assert(files().length <= Quantize.CoarseK * IvfPqIndex.SaltM)
    assert(files().length < filesBefore, s"$filesBefore -> ${files().length}")
    assert(Gavro.commitRecordsSinceCheckpoint(s"$dir/codes") == 0)
    // every live file is single-valued on cell again — the keyed read's
    // clustered aggregate plans with zero Exchange
    files().foreach { f =>
      val s = graft.sources.GavroFooter.read(f).stats("cell")
      assert(s.min == s.max, s"${f.getName} spans cells after maintain")
    }
    // a further append composes: exactly the new batch's rows land on
    // top of the compacted base
    val preAppend = spark.read.format("gavro").option("schema", "ivf_codes")
      .load(s"$dir/codes").count()
    IvfPqIndex.appendToIndex(spark, dir, batch(3 * n))
    val total = spark.read.format("gavro").option("schema", "ivf_codes")
      .load(s"$dir/codes").count()
    assert(total == preAppend + batch(3 * n).count() * Quantize.M,
      s"post-maintain append row accounting: $preAppend -> $total")
  }

  test("incremental maintain compacts only the grown cells; cold files keep their names") {
    val dir = freshDir("incr").getAbsolutePath
    IvfPqIndex.buildAndWrite(emb, dir)
    val n = emb.count()
    // a TINY append: few vectors land in few cells, so growth concentrates
    val delta = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + n).as("vec_id"),
        expr("cast(embedding as array<double>)").as("v"))
      .localCheckpoint(true)
    IvfPqIndex.appendToIndex(spark, dir, delta)
    IvfPqIndex.appendToIndex(spark, dir,
      delta.select((col("vec_id") + n).as("vec_id"), col("v")))
    def cellFiles(): Map[String, Int] =
      Gavro.listDataFiles(s"$dir/codes").map { f =>
        val s = graft.sources.GavroFooter.read(f).stats("cell")
        f.getName -> s.min.asInstanceOf[Number].intValue
      }.toMap
    val before = cellFiles()
    val perCell = before.groupBy(_._2).view.mapValues(_.size).toMap
    val hotCells = perCell.filter(_._2 > IvfPqIndex.SaltM + 1).keySet
    assert(hotCells.nonEmpty && hotCells.size < Quantize.CoarseK,
      s"per-cell files: $perCell")
    val coldFiles = before.filterNot(f => hotCells(f._2)).keySet
    def codes() = spark.read.format("gavro").option("schema", "ivf_codes")
      .load(s"$dir/codes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Int]("sub_idx"), r.getAs[Int]("code"))).toSet
    val contentBefore = codes()
    IvfPqIndex.maintainIncremental(spark, dir)
    val after = cellFiles()
    assert(coldFiles.subsetOf(after.keySet),
      s"cold files rewritten: ${coldFiles -- after.keySet}")
    hotCells.foreach { c =>
      assert(after.count(_._2 == c) <= IvfPqIndex.SaltM,
        s"cell $c not compacted: ${after.count(_._2 == c)} files") }
    assert(codes() == contentBefore, "content changed through the rewrite")
    assert(Gavro.commitRecordsSinceCheckpoint(s"$dir/codes") == 0)
    // nothing grown → name-stable no-op
    IvfPqIndex.maintainIncremental(spark, dir)
    assert(cellFiles() == after)
  }

  test("byte-aware cell trigger: no small-file debt means no rewrite, however many files") {
    val dir = freshDir("bytes").getAbsolutePath
    IvfPqIndex.buildAndWrite(emb, dir)
    val n = emb.count()
    val delta = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + n).as("vec_id"),
        expr("cast(embedding as array<double>)").as("v"))
      .localCheckpoint(true)
    IvfPqIndex.appendToIndex(spark, dir, delta)
    IvfPqIndex.appendToIndex(spark, dir,
      delta.select((col("vec_id") + n).as("vec_id"), col("v")))
    def cellFiles(): Map[String, Int] =
      Gavro.listDataFiles(s"$dir/codes").map { f =>
        val s = graft.sources.GavroFooter.read(f).stats("cell")
        f.getName -> s.min.asInstanceOf[Number].intValue
      }.toMap
    val before = cellFiles()
    val hotCells = before.groupBy(_._2).view.mapValues(_.size).toMap
      .filter(_._2 > IvfPqIndex.SaltM + 1).keySet
    assert(hotCells.nonEmpty)
    // a small-file threshold below every live file: zero debt anywhere —
    // the pass must be a byte-identical no-op even though the hot cells
    // exceed the COUNT threshold (the pre-r15 rule would rewrite them)
    IvfPqIndex.maintainIncremental(spark, dir, smallFileBytes = 1L)
    assert(cellFiles() == before, "no-debt pass must not rewrite anything")
    // at the production threshold every fixture file is small → exactly
    // the over-count cells compact, cold names stable
    val coldFiles = before.filterNot(f => hotCells(f._2)).keySet
    IvfPqIndex.maintainIncremental(spark, dir)
    val after = cellFiles()
    assert(coldFiles.subsetOf(after.keySet),
      s"cold files rewritten: ${coldFiles -- after.keySet}")
    hotCells.foreach { c =>
      assert(after.count(_._2 == c) <= IvfPqIndex.SaltM,
        s"cell $c not compacted") }
  }

  test("prebuilt index serves a query stream: per-trigger answers, index untouched") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = IvfPqIndex.ensure(spark, sfDir)
    val cellsFile = new java.io.File(s"$dir/cells")
      .listFiles().filter(_.getName.endsWith(".gavro")).head
    val mtime = cellsFile.lastModified()
    // batch-form truth for the first 10 ids, from the registered query
    val want = IvfPqIndex.searchPrebuilt(spark, sfDir)
      .filter(col("q_id") < 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("vec_id"))).toSet
    val input = MemoryStream[Long]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = input.toDF().toDF("q_id")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val emb = graft.sources.Tables.embeddings(spark, sfDir)
        val queries = IvfPqIndex.quantizeQueries(
          batch.join(emb, batch("q_id") === emb("vec_id"))
            .select(col("q_id"), col("embedding")))
        IvfPqIndex.searchQueries(spark, dir, queries, emb).collect()
          .foreach(r => got.add((r.getAs[Long]("q_id"), r.getAs[Long]("rnk"),
            r.getAs[Long]("vec_id"))))
        ()
      }
      .start()
    input.addData(0L, 1L, 2L, 3L, 4L)
    q.processAllAvailable()
    assert(got.size == 25, s"first trigger answered ${got.size} rows")
    input.addData(5L, 6L, 7L, 8L, 9L)
    q.processAllAvailable()
    q.stop()
    assert(got.asScala.toSet == want,
      "streamed answers diverge from the batch-form oracle-verified query")
    // the index itself was never rebuilt or touched between triggers
    assert(cellsFile.lastModified() == mtime)
  }

  test("serve stream hot-swaps across a mid-stream republish: zero failed triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // a MUTABLE source dir: generation A is the fixture corpus; the
    // nightly rebuild regenerates it in place with every vec_id shifted
    // +100000 — so which generation answered is visible in the ids
    val sf = java.nio.file.Files.createTempDirectory("ivfpq_swap").toString
    val base = Tables.embeddings(spark, sfDir)
    def regenerate(shift: Long): Unit =
      base.select((col("vec_id") + shift).as("vec_id"), col("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$sf/embeddings.parquet")
    regenerate(0L)
    // fixed query batch, pre-quantized from generation-A vectors and
    // materialized once (localCheckpoint) so every trigger reuses it
    val qdf = IvfPqIndex.quantizeQueries(
      base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding")))
      .localCheckpoint(true)
    val answers =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("trigger_id")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          IvfPqIndex.serveTrigger(spark, sf, qdf).collect()
            .foreach(r => answers.add((bid, r.getAs[Long]("q_id"),
              r.getAs[Long]("vec_id"))))
        }
        ()
      }
      .start()
    input.addData(1L); q.processAllAvailable()
    val genA = answers.asScala.filter(_._1 == 0).map(_._3).toSeq
    assert(genA.nonEmpty && genA.forall(_ < 100000L),
      s"trigger 1 must answer from generation A: $genA")
    val dirA = IvfPqIndex.ensure(spark, sf)
    // steady state: a second trigger re-resolves the SAME live build
    input.addData(2L); q.processAllAvailable()
    assert(IvfPqIndex.ensure(spark, sf) == dirA)
    // NIGHTLY REPUBLISH while the stream runs: regenerate the source;
    // the next trigger must re-key, build B, and answer from it
    regenerate(100000L)
    input.addData(3L); q.processAllAvailable()
    q.stop()
    assert(q.exception.isEmpty, s"failed trigger: ${q.exception}")
    val genB = answers.asScala.filter(_._1 == 2).map(_._3).toSeq
    assert(genB.nonEmpty && genB.forall(_ >= 100000L),
      s"post-republish trigger must answer from generation B: $genB")
    // full answer shape from B: 5 ranks for each of the 5 queries (the
    // exact neighbor SET legitimately differs — retraining samples and
    // tie-breaks follow the new ids)
    assert(genB.size == 25, s"expected 25 rows from B, got ${genB.size}")
    assert(IvfPqIndex.ensure(spark, sf) != dirA, "republish must re-key")
    // build A survives the prune grace for in-flight readers
    assert(new java.io.File(dirA).isDirectory)
  }

  test("vector ingest loop: append per micro-batch, the serve path sees each batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // a private index copy (the loop mutates it)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_ingest").toString
    IvfPqIndex.buildAndWrite(emb, dir)
    val n = emb.count()
    // full-precision corpus view for the serve path's re-rank — grows
    // with each appended batch (the documented searchQueries contract)
    val appendedRows =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Float])]()
    def corpusAll() = {
      import scala.jdk.CollectionConverters._
      val extra = appendedRows.asScala.toSeq
      if (extra.isEmpty) emb
      else emb.unionByName(extra.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding"), lit(-1L).as("label")))
    }
    val input = MemoryStream[(Long, Seq[Float])]
    val q = input.toDF().toDF("vec_id", "v")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(r => (r.getLong(0),
          r.getSeq[Float](1)))
        rows.foreach(appendedRows.add)
        IvfPqIndex.appendToIndex(spark, dir,
          batch.select(col("vec_id"),
            expr("cast(v as array<double>)").as("v")))
        ()
      }
      .start()
    def twinOf(id: Long): Seq[Float] = emb.filter(col("vec_id") === id)
      .head.getSeq[Float](1).zipWithIndex
      .map { case (x, i) => x + ((i % 7) - 3) / 1000f }
    def topFor(qId: Long): Seq[Long] = {
      val queries = IvfPqIndex.quantizeQueries(
        corpusAll().filter(col("vec_id") === qId)
          .select(col("vec_id").as("q_id"), col("embedding")))
      IvfPqIndex.searchQueries(spark, dir, queries, corpusAll())
        .collect().map(_.getAs[Long]("vec_id")).toSeq
    }
    // batch 1: a near-twin of vector 3 arrives; the serve path must
    // surface it at rank 1 for query 3 — only possible because the
    // batch's codes were appended to the persisted table
    input.addData((n + 1, twinOf(3)))
    q.processAllAvailable()
    assert(topFor(3).headOption.contains(n + 1), topFor(3).toString)
    // batch 2: a twin of vector 7 — found too, batch 1's entry intact
    input.addData((n + 2, twinOf(7)))
    q.processAllAvailable()
    q.stop()
    assert(topFor(7).headOption.contains(n + 2), topFor(7).toString)
    assert(topFor(3).headOption.contains(n + 1))
    // three commits on the codes table: build + one per batch
    assert(new java.io.File(s"$dir/codes", Gavro.CommitsDir)
      .listFiles().count(_.getName.endsWith(".commit")) == 3)
  }

  test("registered build summary is layout-independent and deterministic") {
    val s1 = IvfPqIndex.buildIndexSummary(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Int]("sub_idx"),
        r.getAs[Long]("n"), r.getAs[Long]("n_codes"), r.getAs[Long]("sum_code")))
    val s2 = IvfPqIndex.buildIndexSummary(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Int]("sub_idx"),
        r.getAs[Long]("n"), r.getAs[Long]("n_codes"), r.getAs[Long]("sum_code")))
    assert(s1.sameElements(s2))
    assert(s1.map(_._3).sum == emb.count() * Quantize.M) // every code counted once
  }
}
