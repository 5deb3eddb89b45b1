package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** All-queries smoke gate: every declared driver query must EXECUTE on the
  * sf0.001 testdata — not just the hand-built frames the unit suites use.
  *
  * A prior round shipped a schema change that crashed 2 queries and broke 3
  * oracle compares while `sbt test` stayed green, because no suite ran the
  * actual `SparkEntry.queries` entries end-to-end. This gate closes that:
  * `sbt test` goes red if any declared query throws at analysis or runtime.
  *
  * Also asserts the oracle-parity contract: any query with an `oracleSql`
  * entry is hashed by the DuckDB compare (which sorts columns and hashes
  * values), so its schema must not contain MapType — map columns are
  * unhashable driver-side and unorderable in DuckDB (SURVEY §7.4; the
  * `metadata` map is carried in catalog relations only and must be dropped
  * from every parity projection).
  *
  * And the exchange budget: each query runs under a [[Profile]] tag and
  * may plan no more exchanges than its line of `plan_table.tsv` allows
  * (exchanges are the cost unit a plan regression shows up in first;
  * counted before adaptive re-planning, which varies from run to run).
  * A plan that needs more regenerates the table (tools/plan_table.py).
  */
class SmokeGateSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = Spec.spark
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val profile = Profile.attach(spark)
  override def beforeAll(): Unit = { super.beforeAll(); profile }
  override def afterAll(): Unit = {
    Profile.detach(spark, profile)
    super.afterAll()
  }

  /** query -> the exchanges its plan-table line allows */
  private lazy val exchangeBudget: Map[String, Int] = {
    val src = scala.io.Source.fromResource("plan_table.tsv")("UTF-8")
    val lines = try src.getLines().filterNot(_.startsWith("#")).toList
      finally src.close()
    val header = lines.head.split("\t")
    val col = header.indexOf("exchanges")
    lines.tail.map(_.split("\t")).map(f => f(0) -> f(col).toInt).toMap
  }

  private def containsMap(schema: StructType): Boolean =
    schema.fields.exists { f =>
      def anyMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
        case _: MapType      => true
        case a: ArrayType    => anyMap(a.elementType)
        case s: StructType   => containsMap(s)
        case _               => false
      }
      anyMap(f.dataType)
    }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query '$name' executes on sf0.001") {
      val df = Profile.tagged(spark, name) {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        df
      }
      Profile.drain(spark)
      val budget = exchangeBudget.getOrElse(name,
        fail(s"'$name' has no line in plan_table.tsv; regenerate it"))
      val stats = profile.stats(name)
      assert(stats.jobs > 0, s"the profile saw no job of '$name'")
      val planned = stats.plannedExchanges
      assert(planned <= budget, s"'$name' plans $planned exchanges, its " +
        s"plan-table line allows $budget — fix the plan or regenerate the table")
      if (SparkEntry.oracleSql.contains(name))
        assert(!containsMap(df.schema),
          s"parity query '$name' exposes a MapType column — the driver " +
          "compare cannot hash maps; drop it from the projection")
    }
  }

  test("flagship entry() returns rows on sf0.001 (driver smoke check)") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1L)
  }

  test("every oracleSql key has a matching queries entry") {
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty, s"oracles without queries: $orphanOracles")
  }

  // The driver has changed the on-disk encoding of events.ts twice (long
  // nanos, then timestamp[us] NTZ). Every event-time operator assumes the
  // normalized reader yields TimestampType; pin that contract here so the
  // next regeneration fails THIS test loudly instead of 8 operators.
  test("Tables.events normalizes ts to TimestampType for any disk encoding") {
    import org.apache.spark.sql.types.TimestampType
    val dt = graft.sources.Tables.events(spark, sfDir).schema("ts").dataType
    assert(dt == TimestampType, s"events.ts normalized to $dt, expected TimestampType")
  }

  // Pin the (column → type) contract every operator family assumes on the
  // driver-generated tables, so a future testdata regeneration that
  // reshapes a column fails HERE with a readable diff instead of as a
  // scatter of analysis errors across the query surface.
  test("driver tables carry the column types the operators assume") {
    import graft.sources.{Tables => T}
    val expect = Map(
      "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> Seq("vec_id" -> "bigint",
        "embedding" -> "array<float>", "label" -> "int"),
      "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
        "user_id" -> "bigint", "event_type" -> "string",
        "value" -> "double", "props" -> "string"))
    val got = Map(
      "documents" -> T.documents(spark, sfDir),
      "embeddings" -> T.embeddings(spark, sfDir),
      "events" -> T.events(spark, sfDir))
    for ((table, cols) <- expect; (name, tpe) <- cols) {
      val schema = got(table).schema
      assert(schema.fieldNames.contains(name),
        s"$table lost column '$name' — regenerated testdata reshaped it; " +
        s"present: ${schema.fieldNames.mkString(", ")}")
      val actual = schema(name).dataType.simpleString
      assert(actual == tpe,
        s"$table.$name is $actual, operators assume $tpe — extend the " +
        "reader normalization (see Tables.normalizeEventTs) or the operators")
    }
  }
}
