package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import graft.queries.CaseStudyQueries

/** Physical-plan quality gates (the 100 TB checklist): filters and
  * column pruning must reach the parquet scan, dimension joins must
  * broadcast, distinct/agg must have a map-side partial phase, and the
  * final graph write must be rebalanced by predicate.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  /** Final physical plan: execute first so AQE re-optimization has
    * happened (isFinalPlan=true) — join strategies and codegen stages
    * only appear in the final adaptive plan.
    */
  def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    // keep only the AQE final plan (the Initial Plan section can contain
    // pre-reoptimization operators like SortMergeJoin)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("filter + projection push down to the parquet scan") {
    val df = SparkEntry.queries("s1_scan_prune")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual(l_quantity,45.0)") ||
      plan.contains("EqualTo(l_returnflag,R)"), plan)
    // pruned read schema: only the needed columns reach the scan
    assert(plan.contains("ReadSchema") &&
      !plan.contains("l_extendedprice"), plan)
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val df = SparkEntry.queries("j1_broadcast_join")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("aggregation has a map-side partial phase") {
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("HashAggregate"), plan)
    // partial + final pair
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("whole-stage codegen covers the scan→project→filter pipeline") {
    // codegen stages render as "*(n)" in the plan tree
    val df = SparkEntry.queries("tx_fingerprint")(spark, dir)
    assert(planOf(df).contains("*("), planOf(df))
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    val df = SparkEntry.queries("w3_topk")(spark, dir)
    assert(planOf(df).contains("TakeOrderedAndProject"), planOf(df))
  }

  test("KG resolution joins broadcast the dictionaries") {
    val docs = graft.kg.DataGen.corpus(spark, 50, 2).toDF()
    val records = graft.kg.Extract.records(docs)
    val matched = graft.kg.Link.matchTaxa(records,
      graft.kg.DataGen.wdSparql(spark), graft.kg.DataGen.wdLineage(spark))
    val (dictId, dictName) = graft.kg.Materialize.wdMapDicts(matched)
    // the emission's relational resolution arm (guard forced to 0)
    val triples = graft.kg.Materialize.globiTriplesFused(records, dictId, dictName,
      maxDriverRows = 0)
    val plan = planOf(triples)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("graph write layout: predicate directories, subject-clustered files") {
    val tmp = java.nio.file.Files.createTempDirectory("graph").toString
    import spark.implicits._
    val triples = Seq(
      graft.kg.Model.Triple("s1", "http://p/a", "o1", false, ""),
      graft.kg.Model.Triple("s2", "http://p/a", "o2", false, ""),
      graft.kg.Model.Triple("s3", "http://p/b", "lit", true, "x")).toDF()
    // a rebalance by predicate sized by AQE: no range partitioning and
    // so no sampling job
    val plan = graft.kg.Materialize.predicateLayout(triples)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), plan)
    assert(plan.contains("REBALANCE_PARTITIONS_BY_COL"), plan)
    import graft.sources.SnapshotTable
    SnapshotTable.write(graft.kg.Materialize.predicateLayout(triples), tmp,
      partitionBy = Seq("predicate"))
    // the snapshot's one data directory holds the predicate directories
    val Array(data) = new java.io.File(s"$tmp/data").listFiles()
    val dirs = data.listFiles().filter(_.isDirectory)
    assert(dirs.map(_.getName).toSet ==
      Set("predicate=http_p_a", "predicate=http_p_b"), dirs.toSeq)
    dirs.foreach { d =>
      val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.toSeq}")
    }
    val back = SnapshotTable.read(spark, tmp)
    assert(back.count() == 3)
  }

  test("filters push down through snapshot-table reads") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("snapplan").toString + "/t"
    val df = (0 until 2000).map(i => (s"id$i", i % 50, s"payload$i"))
      .toDF("id", "k", "payload")
    SnapshotTable.write(df, t)
    val q = SnapshotTable.read(spark, t).filter(col("k") === 7).select("id")
    val plan = planOf(q)
    // manifest-listed file reads are still a parquet scan: predicate
    // reaches PushedFilters and the projection prunes the ReadSchema
    assert(plan.contains("PushedFilters: [") && plan.contains("k"), plan)
    assert(plan.contains("ReadSchema") && !plan.contains("payload"), plan)
  }

  test("LSH bucket cap bounds the candidate join (no quadratic hot bucket)") {
    import graft.ops.Dedup
    import spark.implicits._
    // one poisoned band key holding 3000 docs (boilerplate cluster) plus
    // 500 well-spread docs: uncapped, the hot bucket alone is ~4.5M
    // candidate pairs; capped, it contributes zero and only the spread
    // buckets pair up
    val hot = (0 until 3000).map(i => (s"h$i", 0, "HOTKEY"))
    val cold = (0 until 500).map(i => (s"c$i", 0, s"ck${i / 2}"))
    val bands = (hot ++ cold).toDF("id", "band", "bkey")
    val capped = Dedup.lshCandidates(bands, maxBucket = 100)
    assert(capped.count() == 250) // 250 cold buckets of 2 → 1 pair each
    val dropped = Dedup.lshDroppedBuckets(bands, 100).collect()
    assert(dropped.length == 1 && dropped.head.getLong(2) == 3000L)
  }

  test("tx_decontaminate broadcasts the eval shingles; no corpus shuffle join") {
    val plan = planOf(SparkEntry.queries("tx_decontaminate")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("tx_unigram_lm broadcasts the vocab count table") {
    val plan = planOf(SparkEntry.queries("tx_unigram_lm")(spark, dir))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("tx_pii_scrub is pure map-side until the output sort") {
    val plan = planOf(SparkEntry.queries("tx_pii_scrub")(spark, dir))
    assert(!plan.contains("Join"), plan)
    // only the deterministic ORDER BY may exchange
    val ex = "Exchange".r.findAllIn(plan).size
    assert(ex <= 1, s"$ex exchanges:\n$plan")
  }

  test("sim_semdedup candidate join is equi-keyed (no cartesian/NL join)") {
    val plan = planOf(SparkEntry.queries("sim_semdedup")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("w6_quantiles: one histogram aggregate, no join, percentiles ride the histogram") {
    val plan = planOf(SparkEntry.queries("w6_quantiles")(spark, dir))
    assert(!plan.contains("Join"), plan)
    // partial + final histogram agg; the 4-percentile explode and the
    // cumulative windows run over the histogram, not the input rows
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("sim_sq_topk core scorer is zero-shuffle scan→project→TakeOrdered") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).toArray
    val qq = graft.ops.Similarity.quantizeLocal(q)
    val plan = planOf(graft.ops.Similarity.scalarQuantTopK(
      e.filter(col("vec_id") =!= 0), "vec_id", "embedding", qq, 10))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("tx_domain_cap: the window and the per-domain ledger share ONE shuffle") {
    // row_number partitions by source; the groupBy(source) that follows
    // must reuse that partitioning — a second hash exchange on the same
    // key would double the operator's only data shuffle at 100 TB. (The
    // one rangepartitioning exchange is the deterministic output ORDER
    // BY over the 4-row ledger — same allowance as tx_pii_scrub.)
    val plan = planOf(SparkEntry.queries("tx_domain_cap")(spark, dir))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"$hashEx hash exchanges:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("ev_range_join is a banded equi-join, never a cartesian/NL candidate space") {
    val plan = planOf(SparkEntry.queries("ev_range_join")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("tx_longdup: equi-joins only, and no shuffle carries window strings") {
    val plan = planOf(SparkEntry.queries("tx_longdup")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // windows are hashed to longs in the scan stage: the 20-gram string
    // column `w` must never appear in an Exchange's output schema
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("w#")),
      exchanges.mkString("\n"))
  }

  test("tx_weighted_sample: TakeOrdered top-k, zero exchanges before it") {
    val plan = planOf(SparkEntry.queries("tx_weighted_sample")(spark, dir))
    assert(plan.contains("TakeOrdered"), plan.take(500))
    // the ≤6-hash fold is a scan-stage projection; nothing shuffles
    assert(!plan.contains("Exchange"), plan)
  }

  test("mm_png_features: no Exchange carries the PNG payload bytes") {
    val plan = planOf(SparkEntry.queries("mm_png_features")(spark, dir))
    // decode happens in the typed scan stage; only (ref, bucket, cnt)
    // rows ever move
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(!_.contains("payload")), exchanges.mkString("\n"))
  }

  test("j11_full_outer genuinely exercises both dangling sides") {
    val rows = SparkEntry.queries("j11_full_outer")(spark, dir).collect()
    assert(rows.exists(_.getLong(1) == 0L), "no order-only rows — vacuous")
    assert(rows.exists(_.getLong(2) == 0L), "no customer-only rows — vacuous")
  }

  /** Run `check` against both arms of an organism-graph query: the
    * default row guard (the driver arm) and a guard of 0 (the
    * distributed plan).
    */
  private def bothArms(check: Long => Unit): Unit =
    Seq(graft.kg.Model.MaxDriverRows, 0L)
      .foreach(m => withClue(s"maxDriverRows = $m: ")(check(m)))

  /** Undirected organism edge set derived independently of the engine
    * queries (same serving table, plain collected Scala) — shared by
    * the triangle and k-core brute twins.
    */
  private def bruteOrganismEdges(): Set[(String, String)] = {
    val t = spark.table(graft.queries.Materialized.globiTable(spark, dir))
    val EMI = graft.queries.Materialized.EMI
    val SOSA = graft.queries.Materialized.SOSA
    val so = t.filter(col("pred") === SOSA + "isSampleOf")
      .select(col("subj").as("sample"), col("obj").as("org"))
    val hs = t.filter(col("pred") === EMI + "hasSource")
      .select(col("subj").as("rec"), col("obj").as("sample"))
    val ht = t.filter(col("pred") === EMI + "hasTarget")
      .select(col("subj").as("rec"), col("obj").as("sample"))
    hs.join(so, Seq("sample")).select(col("rec"), col("org").as("src"))
      .join(ht.join(so, Seq("sample")).select(col("rec"), col("org").as("dst")),
        Seq("rec"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")), greatest(col("src"), col("dst")))
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSet
  }

  test("kg_cs_triangles equals brute-force triangle enumeration") {
    // count triangles by brute subset-check in Scala and compare
    // per-node counts + the global rider
    val edges = bruteOrganismEdges()
    val adj = (edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triangles = for {
      (u, v) <- edges.toSeq
      w <- adj(u).intersect(adj(v)) if u < w && v < w
    } yield (u, v, w)
    val perNode = triangles.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    bothArms { m =>
      val got = CaseStudyQueries.triangles(spark, dir, m).collect()
      assert(got.nonEmpty, "no triangles in the sf0.001 graph — test is vacuous")
      got.foreach { r =>
        assert(r.getLong(2) == triangles.size.toLong,
          s"total ${r.getLong(2)} vs brute ${triangles.size}")
        assert(perNode(r.getString(0)) == r.getLong(1),
          s"${r.getString(0)}: ${r.getLong(1)} vs brute ${perNode(r.getString(0))}")
      }
      // the engine returns the top-20 slice of the brute ranking
      val expectedTop = perNode.toSeq.sortBy { case (n, c) => (-c, n) }.take(20)
      assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq == expectedTop)
    }
  }

  test("kg_cs_lcc equals brute clustering coefficient; degree-1 excluded") {
    val edges = bruteOrganismEdges()
    val adj = (edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = adj.collect { case (n, nbrs) if nbrs.size >= 2 =>
      val t = nbrs.toSeq.combinations(2)
        .count { case Seq(a, b) => adj(a).contains(b) }
      val d = nbrs.size
      (n, d.toLong, t.toLong,
        BigDecimal(2.0 * t / (d.toDouble * (d - 1).toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq
    val expected = brute.sortBy { case (n, _, _, l) => (-l, n) }.take(15)
    bothArms { m =>
      val got = CaseStudyQueries.lcc(spark, dir, m).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(got.nonEmpty && got == expected, s"\ngot  $got\nwant $expected")
      assert(got.exists(_._4 > 0.0), "all-zero lcc — fixture has no triangles")
    }
  }

  test("kg_cs_sssp equals brute Bellman-Ford with the md5 edge weights") {
    val edges = bruteOrganismEdges().toSeq
    def w(u: String, v: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u|$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 9 + 1
    }
    val sym = edges.flatMap { case (u, v) =>
      val wt = w(u, v); Seq((u, v, wt), (v, u, wt))
    }
    val deg = sym.groupBy(_._1).view.mapValues(_.size).toMap
    val hub = deg.toSeq.minBy { case (n, d) => (-d, n) }._1
    var dist = Map(hub -> 0L)
    for (_ <- 1 to 4) {
      val relaxed = sym.flatMap { case (a, b, wt) =>
        dist.get(a).map(d => b -> (d + wt))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
    }
    val expected = dist.toSeq.sortBy { case (n, d) => (d, n) }.take(25)
    val got = SparkEntry.queries("kg_cs_sssp")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected, s"\ngot  $got\nwant $expected")
    // weighted distances must spread beyond {0, 1}: several distinct
    // values within the 25-closest slice proves the weights bite
    assert(got.map(_._2).distinct.size > 2,
      s"degenerate distance spread: ${got.map(_._2).distinct}")
  }

  test("kg_cs_ppr equals brute seeded power iteration; mass near the seed") {
    val edges = bruteOrganismEdges().toSeq
    val sym = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val deg = sym.groupBy(_._1).view.mapValues(_.size).toMap
    val seed = deg.toSeq.minBy { case (n, d) => (-d, n) }._1
    var pr = deg.keys.map(n => n -> (if (n == seed) 1.0 else 0.0)).toMap
    for (_ <- 1 to 10) {
      val contrib = sym.groupBy(_._2).view.mapValues(
        _.map { case (src, _) => pr(src) / deg(src) }.sum).toMap
      pr = deg.keys.map { n =>
        n -> ((if (n == seed) 0.15 else 0.0) + 0.85 * contrib.getOrElse(n, 0.0))
      }.toMap
    }
    val got = SparkEntry.queries("kg_cs_ppr")(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty)
    got.foreach { case (n, p) =>
      assert(math.abs(p - pr(n)) < 1e-4, s"$n: $p vs brute ${pr(n)}")
    }
    // the seed holds the restart mass, so it must lead the ranking
    assert(got.head._1 == seed && got.head._2 > got.last._2)
  }

  test("kg_cs_degree_dist equals brute histogram; CCDF is monotone") {
    val edges = bruteOrganismEdges().toSeq
    val deg = edges.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val hist = deg.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    bothArms { m =>
      val got = CaseStudyQueries.degreeDist(spark, dir, m).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got.map(r => (r._1, r._2)).toMap == hist)
      // descending-cumulative: n_ge at the smallest degree covers all nodes
      assert(got.head._3 == deg.size.toLong)
      assert(got.sliding(2).forall {
        case Seq((_, _, a), (_, _, b)) => a >= b; case _ => true
      })
    }
  }

  test("kg_cs_jaccard_nbrs equals brute common-neighbor Jaccard; no existing edges") {
    val edges = bruteOrganismEdges()
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    val brute = (for {
      u <- nodes; v <- nodes if u < v && !edges.contains((u, v))
      common = adj(u).intersect(adj(v)).size if common > 0
    } yield {
      val j = common.toDouble / (adj(u).size + adj(v).size - common)
      (u, v, common.toLong,
        BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).sortBy { case (u, v, _, j) => (-j, u, v) }.take(20)
    bothArms { m =>
      val got = CaseStudyQueries.jaccardNbrs(spark, dir, m).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.nonEmpty, "no predicted links — test is vacuous")
      assert(got.toSeq == brute, s"engine ${got.mkString(",")} vs brute $brute")
      got.foreach { case (u, v, _, _) =>
        assert(!edges.contains((u, v)), s"($u,$v) is an existing edge") }
    }
  }

  test("kg_cs_adamic_adar equals brute degree-weighted common neighbors") {
    val edges = bruteOrganismEdges()
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    val brute = (for {
      u <- nodes; v <- nodes if u < v && !edges.contains((u, v))
      cn = adj(u).intersect(adj(v)) if cn.nonEmpty
    } yield {
      val aa = cn.toSeq.map(w => 1.0 / math.log(adj(w).size)).sum
      (u, v, cn.size.toLong,
        BigDecimal(aa).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).sortBy { case (u, v, _, aa) => (-aa, u, v) }.take(20)
    bothArms { m =>
      val got = CaseStudyQueries.adamicAdar(spark, dir, m).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.nonEmpty, "no predicted links — test is vacuous")
      assert(got.toSeq == brute, s"engine ${got.mkString(",")} vs brute $brute")
    }
  }

  test("kg_cs_wedge_capped equals brute capped enumeration; ledger drops wedges") {
    val cap = graft.queries.CaseStudyQueries.WedgeCap
    val edges = bruteOrganismEdges()
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // deterministic admission: first `cap` neighbors by id per center
    val kept = adj.view.mapValues(_.toSeq.sorted.take(cap)).toMap
    val common = kept.toSeq.flatMap { case (_, ns) =>
      for (u <- ns; v <- ns if u < v) yield (u, v)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val brute = common.toSeq
      .collect { case ((u, v), c) if !edges.contains((u, v)) => (u, v, c) }
      .sortBy { case (u, v, c) => (-c, u, v) }.take(20)
    def ch2(d: Long) = d * (d - 1) / 2
    val total = adj.values.map(ns => ch2(ns.size.toLong)).sum
    val keptW = adj.values.map(ns => ch2(math.min(ns.size, cap).toLong)).sum
    assert(keptW < total,
      s"cap $cap drops nothing at sf0.001 ($keptW == $total) — ledger vacuous")
    bothArms { m =>
      val got = CaseStudyQueries.wedgeCapped(spark, dir, m).collect()
      assert(got.nonEmpty, "no capped predictions — test is vacuous")
      assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        == brute, "capped engine ranking != brute capped ranking")
      got.foreach { r =>
        assert(r.getLong(4) == total && r.getLong(3) == keptW,
          s"ledger (${r.getLong(3)}/${r.getLong(4)}) vs brute ($keptW/$total)")
      }
    }
  }

  test("kg_cs_bfs_reach equals brute multi-source BFS ring counts") {
    val edges = bruteOrganismEdges()
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hubs = adj.toSeq.map { case (n, ns) => (n, ns.size) }
      .sortBy { case (n, d) => (-d, n) }.take(3).map(_._1)
    val brute = hubs.flatMap { h =>
      var visited = Set(h); var frontier = Set(h)
      (1 to 3).flatMap { dist =>
        val next = frontier.flatMap(adj(_)) -- visited
        visited ++= next; frontier = next
        if (next.nonEmpty) Some((h, dist.toLong, next.size.toLong)) else None
      }
    }.sortBy { case (h, d, _) => (h, d) }
    bothArms { m =>
      val got = CaseStudyQueries.bfsReach(spark, dir, m).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got.nonEmpty, "empty reach — test is vacuous")
      assert(got == brute, s"engine $got vs brute $brute")
      // the rings must be genuinely multi-hop at sf0.001, not all dist-1
      assert(brute.exists(_._2 >= 2), "graph too shallow — BFS test is vacuous")
    }
  }

  test("kg_cs_kcore equals brute-force peeling; in-core degrees honor k") {
    // same undirected organism edge set as the triangles twin; peel in
    // plain Scala to the fixpoint for k = 2 and 3 and compare
    val edges = bruteOrganismEdges()
    def peel(k: Int): Map[String, Int] = {
      var es = edges
      var done = false
      while (!done) {
        val deg = es.toSeq.flatMap { case (u, v) => Seq(u, v) }
          .groupBy(identity).view.mapValues(_.size).toMap
        val next = es.filter { case (u, v) => deg(u) >= k && deg(v) >= k }
        done = next == es
        es = next
      }
      es.toSeq.flatMap { case (u, v) => Seq(u, v) }
        .groupBy(identity).view.mapValues(_.size).toMap
    }
    val expected =
      peel(2).map { case (n, d) => (2, n) -> d.toLong } ++
        peel(3).map { case (n, d) => (3, n) -> d.toLong }
    val got = SparkEntry.queries("kg_cs_kcore")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"engine $got vs brute $expected")
    assert(got.keys.exists(_._1 == 2), "2-core empty — test is vacuous")
    got.foreach { case ((k, n), d) => assert(d >= k, s"$n in $k-core has degree $d") }
  }

  test("kg_cs_communities equals brute-force synchronous label propagation") {
    // 5 sync rounds in plain Scala with the same (count desc, label
    // asc) argmax; compare community sizes and the total rider
    val edges = bruteOrganismEdges()
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels: Map[String, String] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 5) {
      labels = adj.map { case (n, nbrs) =>
        val best = nbrs.map(labels).groupBy(identity).view.mapValues(_.size)
          .toSeq.minBy { case (l, c) => (-c, l) }._1
        n -> best
      }
    }
    val sizes = labels.values.groupBy(identity).view.mapValues(_.size.toLong)
      .toMap
    val expectedTop = sizes.toSeq.sortBy { case (l, c) => (-c, l) }.take(25)
    val got = SparkEntry.queries("kg_cs_communities")(spark, dir).collect()
    assert(got.nonEmpty, "no communities — test is vacuous")
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq == expectedTop,
      s"engine ${got.mkString(",")} vs brute $expectedTop")
    got.foreach(r => assert(r.getLong(2) == sizes.size.toLong,
      s"total ${r.getLong(2)} vs brute ${sizes.size}"))
    // propagation genuinely merged labels (not vacuously one-per-node)
    assert(sizes.size < adj.size, s"${sizes.size} communities of ${adj.size} nodes")
    // the engine's static-edge-side optimization rests on persist
    // (InMemoryRelation) preserving a repartition's outputPartitioning
    // across reuses — pin that a sort-merge join over the cached,
    // pre-partitioned side plans WITHOUT an Exchange above the cache
    // scan (localCheckpoint would erase the partitioning; the labels
    // side still shuffles, which is the point)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val e = spark.range(100).selectExpr("id % 7 as b", "id as payload")
        .repartition(col("b")).persist()
      e.count()
      val l = spark.range(7).selectExpr("id as node", "id as label2")
      val j = e.join(l, col("b") === col("node"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), plan)
      // the cached side must need NO runtime exchange (the only b-keyed
      // exchange is the one-time REPARTITION_BY_COL inside the cache
      // build); the probe side's ENSURE_REQUIREMENTS shuffle remains
      assert(!plan.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(b#") && l.contains("ENSURE_REQUIREMENTS")),
        s"cached side re-shuffled:\n$plan")
      assert(plan.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(node#") && l.contains("ENSURE_REQUIREMENTS")),
        s"probe-side shuffle missing (broadcast sneaked in?):\n$plan")
      e.unpersist(true)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  /** Exact closeness of the top-3 degree hubs (degree desc, name) by
    * plain BFS to exhaustion: (hub, n_reached, sum_dist, closeness),
    * ordered by hub.
    */
  private def bruteCloseness(edges: Set[(String, String)]): Seq[(String, Long, Long, Double)] = {
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hubs = adj.toSeq.sortBy { case (n, ns) => (-ns.size, n) }.take(3).map(_._1)
    hubs.sorted.map { h =>
      var dist = Map(h -> 0L)
      var frontier = Set(h)
      while (frontier.nonEmpty) {
        val d = dist(frontier.head) + 1
        frontier = frontier.flatMap(adj) -- dist.keySet
        dist ++= frontier.map(_ -> d)
      }
      val (n, total) = (dist.size - 1L, dist.values.sum)
      (h, n, total, CaseStudyQueries.round6(n.toDouble / total.toDouble))
    }
  }

  test("kg_cs_closeness equals brute BFS to exhaustion, also past the oracle's 8 levels") {
    import spark.implicits._
    def closeness(d: String) = SparkEntry.queries("kg_cs_closeness")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val expected = bruteCloseness(bruteOrganismEdges())
    val got = closeness(dir)
    assert(got.size == 3 && got == expected, s"\ngot  $got\nwant $expected")
    // a 12-node path p00 - ... - p11 as the undirected edge memo: the
    // hubs p01, p02, p03 (degree 2, name order) reach p11 at distances
    // 10, 9 and 8, so an 8-level unroll would lose p01's and p02's tails
    val path = (0 until 11).map(i => (f"p$i%02d", f"p${i + 1}%02d"))
    val deep = "plan-spec/closeness-path"
    graft.queries.Materialized.once(spark, "orgEdgesUndirected", deep)(path.toDF("u", "v"))
    val gotDeep = closeness(deep)
    assert(gotDeep == bruteCloseness(path.toSet), gotDeep)
    assert(gotDeep.map(r => (r._1, r._2, r._3)) ==
      Seq(("p01", 11L, 56L), ("p02", 11L, 48L), ("p03", 11L, 42L)), gotDeep)
  }

  test("kg_sparql_wdids evaluates the 7-pattern star join ONCE") {
    // The SPARQL UNION merges source-side and target-side taxa; a naive
    // per-arm formulation references the star-join subtree twice and
    // executes it once per arm. The single-pass form (explode both taxon
    // ends) must contain exactly one hasSource pattern scan in the
    // optimized plan — at 100 TB a second copy doubles the most
    // expensive serving join. That is the distributed arm, the one above
    // the row guard (the driver arm below it joins no plan at all).
    val df = graft.queries.SparqlQueries.globiWikidataIds(spark, dir, maxDriverRows = 0L)
    val plan = df.queryExecution.optimizedPlan.toString
    val occurrences = "hasSource".r.findAllIn(plan).size
    assert(occurrences == 1, s"star join subtree appears $occurrences times")
  }

  test("kg_shacl: per-subject shape aggregate is exchange-free on the bucketed table") {
    // ALL cardinality shapes evaluate from one per-subject conditional
    // aggregate whose grouping key is the bucket key — the bucketed scan
    // must satisfy it with NO subj exchange; the only hash exchange left
    // is the 8-row per-shape rollup.
    val df = SparkEntry.queries("kg_shacl")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Exchange hashpartitioning(subj"), plan)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected 1 hash exchange (shape_id rollup), got $hashEx:\n$plan")
  }

  test("ev_scd2: the whole SCD2 build rides ONE user_id exchange") {
    // lag window, run-id window, run groupBy and valid_to lead window
    // all cluster on (a superset of) user_id — Spark's subset rule must
    // reuse the single exchange; a second hash exchange means the run
    // groupBy re-shuffled run-scale rows for nothing.
    val df = SparkEntry.queries("ev_scd2")(spark, dir)
    val plan = planOf(df)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected 1 hash exchange (user_id), got $hashEx:\n$plan")
  }
}
