package graft

import java.nio.file.{Files, Paths}
import scala.sys.process.{Process, ProcessLogger}

/** Degenerate inputs against the oracles: every testdata table cut to
  * zero rows, and to its first row only. The queries here are checked
  * against their DuckDB oracle on both cuts, so an engine-side throw
  * (ANSI DIVIDE_BY_ZERO on a zero count) or a disagreement on an empty
  * group fails here instead of on a real empty partition.
  *
  * Needs python3 + duckdb and the sf0.001 testdata; the spec cancels
  * (not fails) where they are absent, like [[OracleTypeSweepSpec]]. */
class DegenerateInputSpec extends GraftSpec {
  private val source = "/root/testdata/sf0.001"

  /** Queries whose degenerate-input answers are pinned to the oracle. */
  private val queries = Seq("lsh_recall_at_k", "rp_multiprobe_recall_at_k")

  /** DuckDB over the fixture tables (`<dir>/<table>.parquet/`, as
    * [[GraftSpec.writeTable]] writes them): prints each result row as
    * `|`-joined values, NULL as `null`. */
  private val oracleScript =
    """import duckdb, glob, os, sys
      |d, sql = sys.argv[1], open(sys.argv[2]).read()
      |con = duckdb.connect()
      |for p in glob.glob(os.path.join(d, '*.parquet')):
      |    t = os.path.basename(p)[:-len('.parquet')]
      |    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
      |for row in con.execute(sql).fetchall():
      |    print('|'.join('null' if v is None else str(v) for v in row))
      |""".stripMargin

  private def oracleRows(dir: String, query: String): Seq[String] = {
    val sqlFile = Paths.get(dir, s"$query.sql")
    Files.writeString(sqlFile, SparkEntry.oracleSql(query))
    val out = Seq.newBuilder[String]
    val err = new StringBuilder
    val rc = Process(Seq("python3", "-c", oracleScript, dir,
        sqlFile.toString))
      .!(ProcessLogger(out += _, l => err.append(l).append('\n')))
    assert(rc == 0, s"oracle for $query failed:\n$err")
    out.result()
  }

  private def sparkRows(dir: String, query: String): Seq[String] =
    SparkEntry.queries(query)(spark, dir).collect().toSeq
      .map(_.toSeq.map(v => String.valueOf(v)).mkString("|"))

  /** A copy of every source table holding at most `rows` of its rows. */
  private def fixture(rows: Int): String = {
    val dir = freshScratch()
    Files.list(Paths.get(source)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).foreach { p =>
        val name = Paths.get(p).getFileName.toString.stripSuffix(".parquet")
        writeTable(name, Tables.table(spark, source, name).limit(rows), dir)
      }
    dir
  }

  for ((cut, rows) <- Seq("empty" -> 0, "first-row-only" -> 1))
    test(s"recall curves match their oracles on $cut tables") {
      assume(Files.isDirectory(Paths.get(source)), s"no testdata at $source")
      assume(Process(Seq("python3", "-c", "import duckdb"))
        .!(ProcessLogger(_ => (), _ => ())) == 0,
        "python3+duckdb unavailable")
      val dir = fixture(rows)
      queries.foreach { q =>
        assert(sparkRows(dir, q) === oracleRows(dir, q), s"query $q")
      }
    }
}
