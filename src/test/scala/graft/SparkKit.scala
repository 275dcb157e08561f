package graft

import graft.fixtures.Gen
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM, plus
  * lazily-generated fixture directories (idempotent; FIXTURES.md §2).
  */
object SparkKit {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val fixturesRoot = "/root/repo/fixtures"

  /** sf0.001 webtext fixture (~500 pages), generated once per checkout. */
  lazy val sf0001: String = synchronized {
    val dir = s"$fixturesRoot/sf0.001"
    Gen.generate(session, dir, Gen.pageCount(0.001))
    dir
  }

  /** sf0.01 webtext fixture (~5,000 pages). */
  lazy val sf001: String = synchronized {
    val dir = s"$fixturesRoot/sf0.01"
    Gen.generate(session, dir, Gen.pageCount(0.01))
    dir
  }
}

/** Crash simulation for the checkpoint specs. */
object CrashKit {
  import java.nio.file.{Files, Path, Paths}

  /** Removes the one `_manifest` file holding run `runId`'s rows (and its
    * local checksum sidecar): the state a crash between that run's partials
    * write and its manifest commit leaves behind. With `asCommittedTask` the
    * file is kept as the committed task output of a manifest commit job
    * killed before its job commit. */
  def dropManifestOf(spark: SparkSession, outDir: String, runId: Long,
                     asCommittedTask: Boolean = false): Unit = {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(graft.kg.Checkpoint.manifestPath(outDir))
    val files = Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .filter(f => spark.read.parquet(f.toString).filter(s"run_id = $runId").count() > 0)
    assert(files.size == 1, s"run $runId must commit in one manifest file: $files")
    if (asCommittedTask) toCommittedTask(dir, files.head)
    else {
      Files.delete(files.head)
      Files.deleteIfExists(dir.resolve(s".${files.head.getFileName}.crc"))
    }
  }

  /** Moves `file` of the table directory `table`, keeping its partition
    * subdirectories, to where Hadoop's FileOutputCommitter (v1) keeps a
    * committed task's output until job commit: what a write job whose
    * driver was killed after that task's commit leaves behind. */
  def toCommittedTask(table: Path, file: Path): Unit = {
    val dest = table.resolve("_temporary/0/task_crashed").resolve(table.relativize(file))
    Files.createDirectories(dest.getParent)
    Files.move(file, dest)
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
  }
}

trait SharedSpark { self: org.scalatest.Suite =>
  lazy val spark: SparkSession = SparkKit.session
}
