package graft

/** The workbench CLI's contract: it refuses what it does not know by
  * naming what it does, its timer prints one JSON line per rep and the
  * best, A/B alternates its sides, and no rep is served from a cache an
  * earlier rep left behind. */
class DevSpec extends SparkTestBase {

  private def run(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Dev.run(spark, args, sf))
    out.toString("UTF-8").linesIterator.toSeq
  }

  private val Sec = "([0-9]+\\.[0-9]{3})"

  test("an unknown mode or query name is refused, naming the known ones") {
    val mode = intercept[IllegalArgumentException](run("nosuch")).getMessage
    assert(mode.contains("'nosuch'"), mode)
    assert(Seq("query", "ab", "jobs", "explain", "heap", "localfs", "topk", "skew",
      "dsir-store", "ingest-excision").forall(mode.contains), mode)
    for (args <- Seq(Seq("query", "q01_agg_sum", "q00_nosuch", "2"),
        Seq("ab", "spark.sql.shuffle.partitions=2|3", "q00_nosuch"),
        Seq("jobs", "q00_nosuch"), Seq("explain", "q00_nosuch"))) {
      val m = intercept[IllegalArgumentException](run(args: _*)).getMessage
      assert(m.contains("'q00_nosuch'") && m.contains("q01_agg_sum") &&
        m.contains("q61_cluster_cc"), m)
    }
  }

  test("query prints one JSON line per rep, then the best") {
    val out = run("query", "q01_agg_sum", "3")
    assert(out.size == 4, out)
    val rep = ("""\{"query":"q01_agg_sum","rep":([0-9]+),"sec":""" + Sec + """\}""").r
    val secs = out.take(3).zipWithIndex.map {
      case (rep(r, s), i) => assert(r.toInt == i + 1, out); s.toDouble
      case (l, _) => fail(s"not a rep line: $l")
    }
    val best = ("""\{"query":"q01_agg_sum","best_sec":""" + Sec + ""","sf":"(.*)"\}""").r
    out(3) match {
      case best(s, dir) => assert(s.toDouble == secs.min && dir == sf, out)
      case l => fail(s"not a best line: $l")
    }
  }

  test("ab alternates sides A and B, reports each side's best, restores the conf") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val out = run("ab", s"$key=3|5", "q01_agg_sum", "4")
    assert(out.size == 5, out)
    val rep = ("""\{"query":"q01_agg_sum","side":"([AB])","rep":([0-9]+),"sec":""" + Sec +
      """\}""").r
    val sides = out.take(4).map {
      case rep(side, r, s) => (side, r.toInt, s.toDouble)
      case l => fail(s"not a rep line: $l")
    }
    assert(sides.map(s => (s._1, s._2)) == Seq(("A", 0), ("B", 1), ("A", 2), ("B", 3)))
    def best(side: String) = sides.filter(_._1 == side).map(_._3).min
    assert(out(4) == f"""{"query":"q01_agg_sum","spec":"$key=3|5",""" +
      f""""bestA":${best("A")}%.3f,"bestB":${best("B")}%.3f,"sf":"$sf"}""")
    assert(spark.conf.get(key) == before)
  }

  test("query over a persisted result leaves no RDD persisted") {
    // the star-collapse path of clusterDuplicates returns its result
    // persisted; a limit of 0 edges sends q61 down it
    val limit = "spark.graft.cluster.smallEdgeLimit"
    spark.conf.set(limit, "0")
    try {
      val sc = spark.sparkContext
      val kept = sc.getPersistentRDDs.keySet
      def leftPersisted = sc.getPersistentRDDs.keySet -- kept
      Queries.all("q61_cluster_cc")(spark, sf).write.format("noop").mode("overwrite").save()
      assert(leftPersisted.nonEmpty, "q61 no longer returns a persisted frame")
      leftPersisted.foreach(sc.getPersistentRDDs(_).unpersist(blocking = true))

      val out = run("query", "q61_cluster_cc", "2")
      assert(out.size == 3, out)
      assert(leftPersisted.isEmpty, leftPersisted)
    } finally spark.conf.unset(limit)
  }
}
