package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Correctness gate for the full-form TPC-H Q2/Q20 twins ([[PartsuppOps]]).
  *
  * The driver testdata has no partsupp table, so these can't be catalog
  * rows — instead the spec builds a fixture dir that IS the sf0.001
  * testdata (symlinked) plus a deterministic synthesized partsupp (4
  * distinct suppliers per part, arithmetic availqty/supplycost — no RNG, so
  * the expected sets are replayable), and replays both queries naively on
  * the collected rows. Small enough that the naive replay is obviously
  * correct; the assertions compare full ordered row sets, not counts.
  */
class PartsuppOpsSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"

  /** sf0.001 tables + synthesized partsupp in one temp dir. */
  private lazy val dir: String = {
    val d = tempDir("partsupp")
    for (t <- Seq("part", "supplier", "nation", "region", "lineitem"))
      Files.createSymbolicLink(
        Paths.get(s"$d/$t.parquet"), Paths.get(s"$src/$t.parquet"))
    import spark.implicits._
    psRows.toDF("ps_partkey", "ps_suppkey", "ps_availqty", "ps_supplycost")
      .coalesce(1).write.parquet(s"$d/partsupp.parquet")
    d
  }

  /** 4 distinct suppliers per part (offsets coprime-ish mod 10), availqty
    * and supplycost pure arithmetic in the keys. */
  private lazy val psRows: Seq[(Long, Long, Int, Double)] =
    for {
      p <- 0L until 200L
      s <- Seq(p % 10, (p + 3) % 10, (p + 5) % 10, (p + 8) % 10)
    } yield (p, s, ((p * 37 + s * 11) % 9999 + 1).toInt,
      ((p * 53 + s * 19) % 100000).toDouble / 100.0)

  test("Q2 full form: min-cost supplier per part, region-pruned, ties kept") {
    val sup = spark.read.parquet(s"$dir/supplier.parquet").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getDouble(3)))
      .toMap
    val nat = spark.read.parquet(s"$dir/nation.parquet").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
    val reg = spark.read.parquet(s"$dir/region.parquet").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val part = spark.read.parquet(s"$dir/part.parquet").collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getInt(4))).toMap

    // naive replay: offers for size-15 %O%-type parts from EUROPE suppliers
    val offers = psRows.flatMap { case (p, s, _, cost) =>
      val (pType, pSize) = part(p)
      val (sName, sNat, sBal) = sup(s)
      val (nName, nReg) = nat(sNat)
      if (pSize == 15 && pType.contains("O") && reg(nReg) == "EUROPE")
        Some((p, pType, sName, sBal, nName, math.round(cost * 1e6)))
      else None
    }
    val minCost = offers.groupBy(_._1).map { case (p, os) =>
      p -> os.map(_._6).min
    }
    val expect = offers.filter(o => o._6 == minCost(o._1))
      .map(o => (o._4, o._3, o._5, o._1, o._2, o._6))
      .sortBy(o => (-o._1, o._3, o._2, o._4))
    assert(expect.nonEmpty, "spec fixture produced an empty Q2 answer")

    val got = PartsuppOps.q2MinCostSupplier(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4), r.getLong(5)))
    assert(got.toSeq == expect,
      s"Q2 diverged from the naive replay:\n got=${got.toSeq}\n want=$expect")
  }

  test("Q20 full form: excess-stock suppliers, empty-sum pairs dropped") {
    val part = spark.read.parquet(s"$dir/part.parquet").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val interesting = part.collect {
      case (p, name) if name.contains("bolt") => p
    }.toSet
    val shipped = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate").collect()
      .flatMap { r =>
        // l_shipdate reads as TIMESTAMP_NTZ (LocalDateTime) in this fixture
        // generation; [1995-01-01, 1996-01-01) is exactly year == 1995
        val t = r.getAs[java.time.LocalDateTime](3)
        if (t.getYear == 1995 && interesting(r.getLong(0)))
          Some(((r.getLong(0), r.getLong(1)), math.round(r.getDouble(2))))
        else None
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    // inner-join semantics: a pair with NO shipped rows has a NULL
    // correlated sum in the SQL form and is dropped, not treated as 0
    val excess = psRows.collect {
      case (p, s, avail, _)
          if interesting(p) && shipped.contains((p, s)) &&
            avail.toLong * 2 > shipped((p, s)) => s
    }.toSet
    val sup = spark.read.parquet(s"$dir/supplier.parquet").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val nation3 = spark.read.parquet(s"$dir/nation.parquet").collect()
      .collect { case r if r.getString(1) == "NATION_3" => r.getInt(0) }.toSet
    val expect = sup.collect {
      case (k, name, nk) if nation3(nk) && excess(k) => (k, name)
    }.sortBy(_._2).toSeq
    assert(expect.nonEmpty, "spec fixture produced an empty Q20 answer")

    val got = PartsuppOps.q20ExcessStock(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == expect,
      s"Q20 diverged from the naive replay:\n got=$got\n want=$expect")

    // the never-shipped guard is LIVE in this fixture: at least one
    // interesting (part, supplier) pair exists in partsupp with no 1995
    // shipment (the pair the NULL-sum semantics must drop)
    val unshipped = psRows.exists { case (p, s, _, _) =>
      interesting(p) && !shipped.contains((p, s))
    }
    assert(unshipped, "fixture lost the empty-correlated-sum case")
  }

  private def withFullPaths[T](body: => T): T = {
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1000")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("both plans are lint-clean, dims broadcast, partsupp scanned once") {
    // the scan count reads file paths off the plan string, so render them
    // whole: the suite's temp path is longer than the default 100-char cut
    withFullPaths(for ((name, df) <- Seq(
        "q2" -> PartsuppOps.q2MinCostSupplier(spark, dir),
        "q20" -> PartsuppOps.q20ExcessStock(spark, dir))) {
      val findings = graft.plans.PlanLint.audit(df)
      assert(findings.isEmpty, s"$name plan findings: $findings")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name lost its broadcast dims:\n$plan")
      // the decorrelated forms scan partsupp exactly once — a join-back
      // against a second copy of the view is the shape they exist to avoid
      val psScans = "partsupp\\.parquet".r.findAllIn(plan).size
      assert(psScans == 1, s"$name scans partsupp $psScans times:\n$plan")
    })
  }
}
