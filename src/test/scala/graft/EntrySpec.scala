package graft

/** The driver's smoke contract: entry() returns rows on sf0.001, and
  * every registered oracle key has a matching query. */
class EntrySpec extends SparkSpec {

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; names are aligned") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
    val rowsOnly = q -- o
    // every query is hash-checked since r6: q11's HLL estimate is not
    // replicable outside Spark, but its declared 5% rsd CONTRACT is —
    // the emitted within_rsd boolean makes the row oracle-decidable
    assert(rowsOnly === Set.empty,
      s"unexpected rows-only queries: $rowsOnly")
  }

  test("every oracle SQL text matches its pinned SHA-256 " +
    "(src/test/resources/oracle_sql.sha256)") {
    val src = scala.io.Source.fromResource("oracle_sql.sha256", getClass.getClassLoader)
    val pinned = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, hash) = l.split(' ')
      name -> hash
    }.toMap finally src.close()
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val now = SparkEntry.oracleSql.map { case (n, sql) => n -> sha256(sql) }
    val changed = (pinned.keySet ++ now.keySet).toSeq.sorted
      .filter(n => pinned.get(n) != now.get(n))
    assert(changed.isEmpty,
      s"oracle SQL changed for ${changed.mkString(", ")}; new lines:\n" +
        changed.map(n => s"$n ${now.getOrElse(n, "<removed>")}")
          .mkString("\n"))
  }

  test("all queries execute at sf0.001 and match declared column casing") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
      // column names must be stable lowercase-ish identifiers for the
      // driver's sorted-column hash compare
      df.columns.foreach(c => assert(!c.contains("("), s"$name: unaliased column $c"))
    }
  }
}
