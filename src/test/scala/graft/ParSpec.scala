package graft

import org.apache.spark.sql.functions._

import graft.ops.Par

/** Pins the two shared parallelism helpers' contracts:
  *
  *   - [[Par.fan]] is GUARDED on the input's planned scan parallelism —
  *     a frame already at-or-above `defaultParallelism` partitions passes
  *     through with NO added Exchange (the r17 verdict's scale hazard: an
  *     unconditional repartition is a full-corpus shuffle at 100 TB and
  *     under-parallelizes it into `defaultParallelism` multi-GB
  *     partitions), while a narrow fixture-shaped input still fans out.
  *   - [[Par.stage]] switches storage by `spark.graft.checkpointDir`:
  *     unset → eager localCheckpoint (executor-local, the sandbox shape);
  *     set → RELIABLE `checkpoint()` into that directory (survives
  *     executor loss — the cluster shape). Rows identical either way.
  *     No other main source file calls a Dataset checkpoint, so this is
  *     the one place that chooses checkpoint storage.
  */
class ParSpec extends SparkSpec {

  private def narrow = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("id", "t").coalesce(1)
  }

  test("fan spreads a narrow input to defaultParallelism") {
    val fanned = Par.fan(narrow)
    assert(fanned.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    assert(fanned.count() === 100L)
  }

  test("fan is a no-op (plan-identical, no Exchange) on an already-wide input") {
    val target = spark.sparkContext.defaultParallelism
    val wide = narrow.repartition(target + 2)
    val fanned = Par.fan(wide)
    // Same object ⇒ same plan ⇒ zero added Exchange at any width.
    assert(fanned eq wide)
    assert(fanned.rdd.getNumPartitions === target + 2)
  }

  test("stage without conf: eager local checkpoint, rows identical") {
    val df = narrow.withColumn("v", col("id") * 2)
    val staged = Par.stage(df)
    assert(staged.collect().map(_.getLong(2)).sorted.toSeq ===
      (1 to 100).map(_.toLong * 2))
    // localCheckpoint truncates lineage: the staged plan is a scan, not
    // the projection chain.
    assert(staged.queryExecution.optimizedPlan.collectLeaves().nonEmpty)
  }

  test("stage with spark.graft.checkpointDir: reliable checkpoint files land there") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    try {
      spark.conf.set("spark.graft.checkpointDir", dir.getAbsolutePath)
      val staged = Par.stage(narrow.withColumn("v", col("id") + 1))
      assert(staged.count() === 100L)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      // The reliable checkpoint wrote partition files under the dir.
      assert(walk(dir).exists(_.getName.startsWith("part-")),
        s"no checkpoint part files under $dir")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  test("no main source outside Par.scala calls a Dataset checkpoint") {
    // `Gavro.checkpoint(dir)` is the gavro commit-log API, not a Dataset
    // checkpoint: its argument is a path, so only the Dataset call shapes
    // (no argument, or an `eager` flag) are matched.
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"not run from the repo root: ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val par = new java.io.File(root, "graft/ops/Par.scala").getCanonicalFile
    val sources = walk(root)
    assert(sources.exists(_.getCanonicalFile == par))
    val calls =
      """\.localCheckpoint\b|\.checkpoint\(\s*(\)|eager|true|false)""".r
    val offenders = for {
      f <- sources if f.getCanonicalFile != par
      (line, i) <- java.nio.file.Files.readString(f.toPath).linesIterator.zipWithIndex
      if calls.findFirstIn(line).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty)
  }
}
