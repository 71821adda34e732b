package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ArtifactStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf
  private val pid = ProcessHandle.current().pid()

  private def withTempDir[T](body: Path => T): T = {
    val d = Files.createTempDirectory("graft-store-spec")
    try body(d) finally FileUtils.deleteQuietly(d.toFile)
  }

  private def withLabelStore[T](base: Path)(body: => T): T = {
    spark.conf.set("graft.labelstore.dir", base.toString)
    try body finally spark.conf.unset("graft.labelstore.dir")
  }

  test("two calls with one key run build once, for frames and literals") {
    var frames, literals = 0
    def frame() = ArtifactStore.frame(spark, "spec-once", sf, "documents", 1) {
      frames += 1
      spark.range(5).toDF("id")
    }
    def literal() = ArtifactStore.literal("spec-once", sf, "documents", 1) {
      literals += 1
      Seq(1L, 2L)
    }
    assert(frame().count() == 5 && frame().count() == 5)
    assert(literal() == Seq(1L, 2L) && literal() == Seq(1L, 2L))
    assert(frames == 1 && literals == 1)
  }

  test("a same-size, same-mtime rewrite with different rows rebuilds") {
    withTempDir { dir =>
      val table = dir.resolve("embeddings.parquet")
      // Uncompressed, dictionary-free and checksum-free, so negating every
      // float changes the rows but not one byte of the file's length.
      def install(df: DataFrame): Unit = {
        val stage = dir.resolve("stage")
        df.coalesce(1).write.mode("overwrite")
          .option("compression", "none")
          .option("parquet.enable.dictionary", "false")
          .option("parquet.page.write-checksum.enabled", "false")
          .parquet(stage.toString)
        val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, table, StandardCopyOption.REPLACE_EXISTING)
        FileUtils.deleteQuietly(stage.toFile)
      }
      val src = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      install(src)
      val (size, mtime) = (table.toFile.length, table.toFile.lastModified)
      var builds = 0
      def firstDims(): Set[(Long, Float)] =
        ArtifactStore.frame(spark, "spec-stale", dir.toString, "embeddings") {
          builds += 1
          Tables.embeddings(spark, dir.toString)
            .select(col("vec_id"), element_at(col("embedding"), 1).as("e1"))
        }.collect().map(r => (r.getLong(0), r.getFloat(1))).toSet
      val before = firstDims()

      install(src.select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding")))
      assert(table.toFile.setLastModified(mtime))
      assert(table.toFile.length == size && table.toFile.lastModified == mtime)
      val after = firstDims()
      assert(builds == 2)
      assert(after == before.map { case (id, e) => (id, -e) })
    }
  }

  test("a new root prunes sibling roots of dead pids and keeps live ones") {
    withTempDir { base =>
      val exited = new ProcessBuilder("true").start()
      exited.waitFor()
      val running = new ProcessBuilder("sleep", "60").start()
      try {
        val dead = base.resolve(s"graft-${exited.pid()}")
        val live = base.resolve(s"graft-${running.pid()}")
        Files.createDirectories(dead.resolve("edges-stale"))
        Files.createDirectories(live)
        withLabelStore(base) {
          ArtifactStore.frame(spark, "spec-prune", sf, "documents") {
            spark.range(1).toDF("id")
          }.count()
        }
        assert(!Files.exists(dead))
        assert(Files.exists(live))
        assert(Files.exists(base.resolve(s"graft-$pid")))
      } finally running.destroy()
    }
  }

  test("the exit cleanup removes this JVM's root") {
    withTempDir { base =>
      withLabelStore(base) {
        ArtifactStore.frame(spark, "spec-cleanup", sf, "documents") {
          spark.range(1).toDF("id")
        }.count()
      }
      val root = base.resolve(s"graft-$pid")
      assert(root.toFile.list().length == 1)
      ArtifactStore.cleanup()
      assert(!Files.exists(root))
    }
  }
}
