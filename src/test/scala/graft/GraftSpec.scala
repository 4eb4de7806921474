package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local session per suite, plus a scratch dir
  * where suites materialize tiny parquet fixtures shaped like the testdata
  * tables (the operators' API takes a table directory, so boundary cases
  * are expressed as miniature table dirs, not mocks). */
trait GraftSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    // Managed tables (the bucketed-layout specs) land in a temp
    // warehouse, never ./spark-warehouse inside the repo.
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft-warehouse-").toString)
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val scratch: String =
    Files.createTempDirectory("graft-test-").toString

  private val extraScratch = scala.collection.mutable.ArrayBuffer[String]()

  /** A fresh fixture dir, for tests that want their own tables instead
    * of sharing [[scratch]] with the rest of the suite. Memos stay
    * correct either way (they re-populate when a file under their input
    * changes); a dir of its own keeps a test's fixture independent of
    * what other tests write. Cleaned up with the suite. */
  def freshScratch(): String = {
    val d = Files.createTempDirectory("graft-test-").toString
    extraScratch.synchronized { extraScratch += d }
    d
  }

  /** Write rows as `<dir>/<table>.parquet` so `Tables.<table>` finds
    * them. */
  def writeTable(name: String, df: DataFrame, dir: String = null): Unit =
    df.coalesce(1).write.mode("overwrite")
      .parquet(s"${Option(dir).getOrElse(scratch)}/$name.parquet")

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Recursive delete for test temp dirs — suites must not accumulate
    * parquet across runs. */
  def deleteRecursively(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  override def afterAll(): Unit = {
    deleteRecursively(scratch)
    extraScratch.foreach(deleteRecursively)
    // One session is shared across suites in the same JVM; don't stop it.
    super.afterAll()
  }
}
