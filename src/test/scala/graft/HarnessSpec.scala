package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Harness-level checks of the driver contract itself. */
class HarnessSpec extends SparkTestBase {

  test("every oracle key has a query, and oracle SQL aliases match outputs") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("Verify main writes one dir per query plus parseable oracle json") {
    val out = Files.createTempDirectory(Paths.get("target"), "verify").toString
    Verify.main(Array(sfDir, out))
    val entries = new java.io.File(out).list().toSet
    SparkEntry.queries.keySet.foreach { q =>
      assert(entries.contains(q), s"missing output dir for $q")
    }
    val json = new String(Files.readAllBytes(Paths.get(out, "oracle_sql.json")))
    // minimal JSON sanity: every oracle key quoted, no raw control chars
    SparkEntry.oracleSql.keySet.foreach { k =>
      assert(json.contains("\"" + k + "\""), s"oracle json missing $k")
    }
    assert(!json.exists(c => c < ' '), "raw control characters in oracle json")
  }

  test("materializeCtes hints every non-recursive CTE and nothing else") {
    // synthetic: plain CTEs get the hint, self-referential ones don't,
    // named windows and literals are untouched, non-WITH passes through
    val sql = """WITH RECURSIVE a AS (SELECT 1 AS x FROM t WHERE s <> 'AS ('),
                |b(y) AS (SELECT x FROM a UNION ALL SELECT y + 1 FROM b WHERE y < 3)
                |SELECT y, sum(y) OVER w AS z FROM b
                |WINDOW w AS (ORDER BY y)""".stripMargin
    val out = SparkEntry.materializeCtes(sql)
    assert(out.contains("a AS MATERIALIZED (SELECT 1"), out)
    assert(out.contains("b(y) AS (SELECT x"), out) // recursive: unhinted
    assert(out.contains("WINDOW w AS (ORDER BY y)"), out) // window: untouched
    assert(SparkEntry.materializeCtes("SELECT 1") == "SELECT 1")

    // the real map: every WITH query gains hints; WINDOW clauses and
    // recursive CTE heads never get one
    val winBad = "WINDOW\\s+[A-Za-z_][A-Za-z0-9_]*\\s+AS\\s+MATERIALIZED".r
    var hinted = 0
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(winBad.findFirstIn(sql).isEmpty, s"$k: named window got hinted")
      if (sql.trim.toUpperCase.startsWith("WITH")) {
        assert(sql.contains(" AS MATERIALIZED ("), s"$k: WITH query unhinted")
        hinted += 1
      } else assert(!sql.contains("MATERIALIZED"), s"$k: non-WITH query changed")
    }
    assert(hinted >= 130, s"expected >=130 hinted WITH oracles, got $hinted")
    // the recursive capstone CTE stays plain
    val v4 = SparkEntry.oracleSql("corpus_pipeline_v4")
    assert(v4.contains("reach3(id, root) AS (\n"), "recursive CTE was rewritten")
  }

  test("library packages never reach up to the SparkEntry driver glue") {
    val libs = Seq("llm", "functions", "operators", "sources", "streaming", "ml")
    val offenders = libs.flatMap { pkg =>
      val dir = Paths.get("src/main/scala/graft", pkg)
      assert(Files.isDirectory(dir), s"missing library package dir $dir")
      val files = Files.walk(dir)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(f => Files.readString(f).contains("SparkEntry")).toList
      finally files.close()
    }
    assert(offenders.isEmpty, s"library files referencing SparkEntry: $offenders")
  }

  test("flagship entry returns rows on the smoke dataset") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("no query output carries array/map/binary columns (driver compare chokes on them)") {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType}
    SparkEntry.queries.foreach { case (name, fn) =>
      val bad = fn(spark, sfDir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType]
          || f.dataType.isInstanceOf[MapType]
          || f.dataType == BinaryType => f.name
      }
      assert(bad.isEmpty, s"$name outputs non-scalar columns: ${bad.mkString(",")}")
    }
  }
}
