package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{EmbeddingOps, IndexFiles, IvfIndex, IvfPqIndex,
  Multimodal, PqIndex, Similarity}
import graft.streaming.StreamingDedup

/** One lifecycle run over every sliced index layout: append, delete,
  * live and as-of reads, compaction (including a crashed one and a slice
  * left next to its own merge), cutover and retire — the verbs
  * [[IndexFiles.Layout]] implements once, exercised through each family's
  * own append path. */
class IndexLifecycleSpec extends SparkSpec {

  /** A family under test: its layout, its source frame and id column, and
    * its append path (`first` writes the first slice; `next` the rest). */
  private case class Family(name: String, layout: IndexFiles.Layout,
      source: () => DataFrame, srcId: String,
      first: (DataFrame, String) => Unit, next: (DataFrame, String) => Unit)

  private def emb: DataFrame =
    Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
  private def docs: DataFrame =
    Tables.documents(spark, sf).select(col("doc_id"), col("text"))
  private def sink: String = TempDirs.scoped("graft_lc_sink")

  private lazy val cents = Similarity.learnCentroids(emb)
  private lazy val pqCbs = Similarity.learnPqCodebooks(emb)
  private lazy val rpqCbs = Similarity.learnResidualPqCodebooks(emb, cents)

  private lazy val families: Seq[Family] = {
    val bin: (DataFrame, String) => Unit =
      (rows, dir) => { EmbeddingOps.appendBinarySlice(rows, dir, -1L); () }
    val li: (DataFrame, String) => Unit =
      (rows, dir) => { Similarity.appendLiSlice(rows, dir, -1L); () }
    val txt: (DataFrame, String) => Unit =
      (rows, dir) => { StreamingDedup.appendBatch(rows, dir, sink); () }
    val mm: (DataFrame, String) => Unit =
      (rows, dir) => { StreamingDedup.appendMediaBatch(rows, dir, sink); () }
    Seq(
      Family("IVF", IvfIndex.layout, () => emb, "vec_id",
        (rows, dir) => IvfIndex.build(rows, dir, Some(cents)),
        (rows, dir) => { IvfIndex.append(rows, dir); () }),
      Family("PQ", PqIndex.layout, () => emb, "vec_id",
        (rows, dir) => PqIndex.build(rows, dir, Some(pqCbs)),
        (rows, dir) => { PqIndex.append(rows, dir); () }),
      Family("IVF-PQ", IvfPqIndex.layout, () => emb, "vec_id",
        (rows, dir) => IvfPqIndex.build(rows, dir, Some(cents), Some(rpqCbs)),
        (rows, dir) => { IvfPqIndex.append(rows, dir); () }),
      Family("binary", EmbeddingOps.binaryLayout, () => emb, "vec_id", bin, bin),
      Family("late-interaction", Similarity.liLayout, () => docs, "doc_id",
        li, li),
      Family("text LSH", StreamingDedup.layout, () => docs, "doc_id", txt, txt),
      Family("media LSH", StreamingDedup.layout,
        () => Multimodal.phashTable(spark, sf), "media_id", mm, mm))
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }

  private def liveIds(f: Family, dir: String): Set[Long] =
    f.layout.live(spark, dir).select(f.layout.idCol).distinct().collect()
      .map(_.getLong(0)).toSet

  /** Two appends (even ids, then odd ids), then a delete of ids % 3 == 0
    * (slice 2 on the shared clock): returns the rows live after the first
    * append and the ids live before the delete. */
  private def lifecycle(f: Family, dir: String): (Seq[String], Set[Long]) = {
    val id = col(f.srcId)
    f.first(f.source().filter(id % 2 === 0), dir)
    val afterFirst = rowsOf(f.layout.live(spark, dir))
    f.next(f.source().filter(id % 2 === 1), dir)
    val before = liveIds(f, dir)
    assert(f.layout.delete(f.source().filter(id % 3 === 0).select(id), dir) == 2L)
    (afterFirst, before)
  }

  for (f <- families) {
    test(s"${f.name}: delete, as-of, compaction and its refusal") {
      val dir = TempDirs.scoped("graft_lc_a")
      val (afterFirst, before) = lifecycle(f, dir)
      assert(before.exists(_ % 3 == 0))
      assert(liveIds(f, dir) == before.filterNot(_ % 3 == 0))
      // the snapshot at slice 0 is the first append, later delete included
      assert(rowsOf(f.layout.live(spark, dir, asOf = 0L)) == afterFirst)
      assert(afterFirst.nonEmpty)
      val live = rowsOf(f.layout.live(spark, dir))
      f.layout.compact(spark, dir, 1L)
      assert(f.layout.slices(spark, dir, f.layout.sliced.head)
        .map(_.split('/').last).sorted == Seq("c1"))
      assert(rowsOf(f.layout.live(spark, dir)) == live)
      val e = intercept[IllegalArgumentException] {
        f.layout.live(spark, dir, asOf = 0L)
      }
      assert(e.getMessage.contains("snapshot"))
    }

    test(s"${f.name}: crashed compaction, stray slice, cutover and retire") {
      val dir = TempDirs.scoped("graft_lc_b")
      lifecycle(f, dir)
      val live = rowsOf(f.layout.live(spark, dir))
      // the merge writer dies after a partial write: nothing visible moves
      intercept[IllegalStateException] {
        f.layout.compactWith(spark, dir, 2L) { (merged, dst) =>
          merged.limit(1).write.mode("overwrite").parquet(dst)
          throw new IllegalStateException("injected merge failure")
        }
      }
      assert(rowsOf(f.layout.live(spark, dir)) == live)
      for (sub <- f.layout.sliced :+ f.layout.tombs)
        assert(!f.layout.slices(spark, dir, sub).exists(_.endsWith("/c2")))

      // a crash between the rename and the cleanup: the merge exists next
      // to an input slice and the tombstone it folded
      val saved = TempDirs.scoped("graft_lc_saved")
      val strays = f.layout.sliced.map(sub => s"$sub/b0") :+
        s"${f.layout.tombs}/b2"
      strays.foreach(s => copyTree(Paths.get(dir, s), Paths.get(saved, s)))
      f.layout.compact(spark, dir, 2L)
      strays.foreach(s => copyTree(Paths.get(saved, s), Paths.get(dir, s)))
      assert(rowsOf(f.layout.live(spark, dir)).distinct == live.distinct)
      f.layout.compact(spark, dir, 2L)
      for (sub <- f.layout.sliced)
        assert(f.layout.slices(spark, dir, sub).map(_.split('/').last) ==
          Seq("c2"))
      assert(f.layout.slices(spark, dir, f.layout.tombs).isEmpty)
      assert(rowsOf(f.layout.live(spark, dir)) == live)

      // cutover refuses a target missing any declared subdir
      val alias = TempDirs.scoped("graft_lc_alias")
      for (sub <- f.layout.sliced ++ f.layout.frozen) {
        val half = TempDirs.scoped("graft_lc_half")
        copyTree(Paths.get(dir), Paths.get(half))
        TempDirs.deleteTree(s"$half/$sub")
        intercept[IllegalArgumentException] {
          f.layout.cutover(spark, alias, half)
        }
        intercept[IllegalArgumentException] { IndexFiles.resolveServing(alias) }
      }
      f.layout.cutover(spark, alias, dir)
      assert(IndexFiles.resolveServing(alias) == dir)

      // retire refuses the served dir and a foreign dir, deletes a replaced one
      intercept[IllegalArgumentException] { f.layout.retire(alias, dir) }
      val foreign = TempDirs.scoped("graft_lc_foreign")
      val stray = Paths.get(foreign, "unrelated.txt")
      Files.write(stray, "not index state".getBytes)
      intercept[IllegalArgumentException] { f.layout.retire(alias, foreign) }
      assert(Files.exists(stray))
      val old = TempDirs.scoped("graft_lc_old")
      copyTree(Paths.get(dir), Paths.get(old))
      f.layout.retire(alias, old)
      assert(!Files.exists(Paths.get(old)))
      assert(rowsOf(f.layout.live(spark, IndexFiles.resolveServing(alias))) == live)
    }
  }
}
