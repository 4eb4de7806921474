package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The library's one memo layer: session-scoped intermediates built once
  * and served to every later caller — the near-dup pair sets, CC labels,
  * trained quantizers, PQ index, rollup checkpoints, and the parquet
  * schema catalog behind [[Tables.table]].
  *
  * Fingerprint contract. [[memo]] keys an entry by (name, Spark
  * application, input paths, extra key) and stamps it with the
  * fingerprint of its inputs: the sorted (path, size, mtime) of every
  * leaf file under each input path, listed through the Hadoop
  * `FileSystem` API on every lookup. A lookup whose fingerprint differs
  * from the entry's stamp replaces the entry with a fresh populate, so a
  * memo never serves a result for data that changed under the same path.
  * The replaced value is dropped, not kept beside the new one; its
  * checkpoint blocks go to the ContextCleaner once unreachable. A rewrite
  * that keeps every file's path, size and mtime is invisible to the
  * fingerprint; Spark writes name their part files uniquely, so a Spark
  * rewrite always shows.
  *
  * Populates nest: the CC-label memo populates the pair-set memo, and
  * every populate reads its tables through the schema catalog. The map
  * therefore holds a lazy cell per key and the populate runs outside the
  * map's update — only the cell is locked while it fills. A populate
  * that throws removes its cell, so the next caller populates afresh.
  *
  * Every populate is billed through [[timed]] under the memo's name;
  * [[graft.Bench]] and the perfbench harness report those seconds as the
  * `memo_populate` map. Timing is nesting-aware: a thread-local stack of
  * child-time accumulators subtracts each nested populate from its
  * parent, so the reported numbers are exclusive and sum to wall-clock. */
object Memos {
  private type Fingerprint = Seq[(String, Long, Long)]

  private final class Cell(val stamp: Fingerprint, fill: () => Any) {
    lazy val value: Any = fill()
  }

  private val cells =
    new ConcurrentHashMap[(String, String, Seq[String], Any), Cell]()
  private val times = new ConcurrentHashMap[String, Double]()

  /** The value memoized under `name` for this session, `inputs` and
    * `key`, running `populate` when there is none yet or when a file
    * under `inputs` changed since it was built. `inputs` lists every path
    * the populate reads (a table dir, a table file); `key` carries any
    * other argument the result depends on. */
  def memo[V](name: String, spark: SparkSession, inputs: Seq[String],
      key: Any = ())(populate: => V): V = {
    val stamp = fingerprint(spark, inputs)
    val k = (name, spark.sparkContext.applicationId, inputs, key)
    val cell = cells.compute(k, (_, old) =>
      if (old != null && old.stamp == stamp) old
      else new Cell(stamp, () => timed(name)(populate)))
    try cell.value.asInstanceOf[V]
    catch { case e: Throwable => cells.remove(k, cell); throw e }
  }

  /** Sorted (path, size, mtime) of the leaf files under each input; a
    * missing input contributes nothing, so the populate itself reports
    * the missing path. */
  private def fingerprint(spark: SparkSession,
      inputs: Seq[String]): Fingerprint =
    inputs.flatMap { in =>
      val path = new Path(in)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val leaves = Seq.newBuilder[(String, Long, Long)]
      try {
        val it = fs.listFiles(path, true)
        while (it.hasNext) {
          val f = it.next()
          leaves += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
      } catch { case _: java.io.FileNotFoundException => () }
      leaves.result()
    }.sorted

  private val childTime = new ThreadLocal[List[Double]] {
    override def initialValue(): List[Double] = Nil
  }

  /** Run `f` (a memo's populate) and record its EXCLUSIVE wall-clock
    * seconds under `name`, subtracting nested [[timed]] spans. Repeated
    * populates of one name (other dirs, changed inputs, a cleared memo)
    * accumulate. */
  private def timed[T](name: String)(f: => T): T = {
    childTime.set(0.0 :: childTime.get)
    val t0 = System.nanoTime()
    try f
    finally {
      val elapsed = (System.nanoTime() - t0) / 1e9
      val children = childTime.get.head
      childTime.set(childTime.get.tail)
      times.merge(name, elapsed - children, (a: Double, b: Double) => a + b)
      childTime.get match {
        case h :: t => childTime.set((h + elapsed) :: t)
        case Nil    => ()
      }
    }
  }

  /** Per-memo exclusive populate seconds recorded so far. */
  def populateSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    times.asScala.toMap
  }

  /** Drop every memo, the schema catalog included, AND the timing record —
    * returns the library to its cold state (used by specs and by the
    * bench's cold re-populate phase). */
  def clearAll(): Unit = {
    cells.clear()
    times.clear()
  }
}
