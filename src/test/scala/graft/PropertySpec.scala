package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY.md §5): algebraic identities the engine's
  * plans must preserve on arbitrary small frames — the invariants
  * Catalyst's rewrites (pushdown, join reorder, partial aggregation)
  * silently rely on. scalacheck generators drive the data; seeds are
  * fixed so failures reproduce.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rowsGen: Gen[List[(Long, Long, String)]] =
    Gen.listOfN(40, for {
      k <- Gen.chooseNum(0L, 9L)
      v <- Gen.chooseNum(-1000L, 1000L)
      s <- Gen.oneOf("a", "b", "c", "")
    } yield (k, v, s))

  private def draw(i: Int): List[(Long, Long, String)] =
    rowsGen.pureApply(Gen.Parameters.default, Seed(42L + i))

  test("the service gate refuses any CTE-prefixed DML and caches any CTE-prefixed read") {
    // the gate and cache eligibility read Spark's parsed plan, so fuzz
    // them: arbitrary CTE lists (nested parens, quoted strings with
    // parens/quotes inside, optional column lists, 1..3 CTEs) must never
    // hide the main statement's verb
    spark.range(3).selectExpr("CAST(id AS INT) AS x").createOrReplaceTempView("prop_t")
    val gated = new graft.serve.QueryService(spark, allowDml = false)
    try {
      val bodyGen: Gen[String] = Gen.oneOf( // two columns each
        "select 1, 2",
        "select count(*), 0 from prop_t where x in (1, (2))",
        "select 'lit with ) paren', \"id(\" from prop_t",
        "select concat(lower(cast(x as string)), ') as'), substr(')', 1) from prop_t", // nested + quoted parens
        "select * from (select 1, 2) q")
      val cteGen: Gen[String] = for {
        cols <- Gen.oneOf("", "(c1, c2)", " (c1, c2)")
        body <- bodyGen
      } yield s"$cols as ($body)"
      val mainGen: Gen[(String, Boolean)] = Gen.oneOf(
        "select * from a" -> false,
        "insert into prop_t select 1 from a" -> true,
        "update prop_t set x = 1" -> true,
        "merge into prop_t using a on prop_t.x = 1 when matched then delete" -> true,
        "delete from prop_t where x in (select 1)" -> true)
      val caseGen: Gen[(String, Boolean)] = for {
        n <- Gen.chooseNum(1, 3)
        ctes <- Gen.listOfN(n, cteGen)
        m <- mainGen
      } yield (s"with ${Seq("a", "b", "cte1").zip(ctes).map(c => c._1 + c._2).mkString(", ")} ${m._1}",
        m._2)
      (0 until 200).foreach { i =>
        val seed = 99L + i
        val (sql, dml) = caseGen.pureApply(Gen.Parameters.default, Seed(seed))
        if (dml) gated.sql(sql) match {
          case f: gated.Failed => assert(f.error.contains("DML disabled"), s"seed $seed <$sql>: ${f.error}")
          case o => fail(s"seed $seed <$sql>: $o")
        }
        else {
          assert(gated.sql(sql).isInstanceOf[gated.Finished], s"seed $seed <$sql>")
          gated.sql(sql) match {
            case f: gated.Finished => assert(f.fromCache, s"seed $seed <$sql>: the repeat missed the cache")
            case o => fail(s"seed $seed <$sql>: $o")
          }
        }
      }
      assert(spark.table("prop_t").count() == 3L)
    } finally {
      gated.close()
      spark.catalog.dropTempView("prop_t")
    }
  }

  test("SqlScan: spans tile the text; ; ( ) UNNEST( approx_percentile( inside literals and comments change no cut and no rewrite") {
    import graft.sql.{SqlScan, TrinoDialect}
    val hole = "\u00a7" // stands for a payload in the generated text
    val codeGen: Gen[String] = Gen.oneOf("SELECT a", "FROM t", ",", "WHERE x = 1", ";",
      "approx_percentile(v, 0.5)", "CAST(c AS VARCHAR)", "date_diff('day', d1, d2)",
      "CROSS JOIN UNNEST(t.xs) AS u(e)", "ROW(1, 2)", "(a + (b))")
    // (text with a hole, kind): literals with '' and backslash escapes,
    // raw literals, quoted identifiers, line and nested block comments
    val holderGen: Gen[(String, SqlScan.Kind)] = Gen.oneOf(
      s"'a${hole}b'" -> SqlScan.Literal, s"'it''s $hole'" -> SqlScan.Literal,
      s"'it\\'s $hole'" -> SqlScan.Literal, s"'$hole\\\\'" -> SqlScan.Literal,
      s"R'$hole\\'" -> SqlScan.Literal,
      s"\"x\\\"$hole\"" -> SqlScan.Literal, s"\"a\"\"$hole\"" -> SqlScan.Literal,
      s"`id$hole`" -> SqlScan.Ident, s"`a``$hole`" -> SqlScan.Ident,
      s"-- note $hole\n" -> SqlScan.Comment, s"/* a $hole */" -> SqlScan.Comment,
      s"/* a /* $hole */ b */" -> SqlScan.Comment)
    val pieceGen: Gen[Either[String, (String, SqlScan.Kind)]] =
      Gen.frequency(3 -> codeGen.map(Left(_)), 2 -> holderGen.map(Right(_)))
    val payloads = Seq(";", "(", ")", "UNNEST(", "approx_percentile(", "x")
    (0 until 300).foreach { i =>
      val seed = 7L + i
      val pieces = Gen.listOfN(12, pieceGen).pureApply(Gen.Parameters.default, Seed(seed))
      val text = pieces.map(_.fold(identity, _._1)).mkString(" ")
      val spans = SqlScan.spans(text)
      assert(spans.map(s => text.substring(s.start, s.end)).mkString == text, s"seed $seed <$text>")
      assert(spans.sliding(2).forall(w => w.size < 2 || w(0).end == w(1).start), s"seed $seed <$text>")
      val quoted = pieces.flatMap {
        case Left(c) => "'day'".r.findAllIn(c).map(_ -> SqlScan.Literal)
        case Right(h) => Seq(h)
      }
      assert(spans.filter(_.kind != SqlScan.Code).map(s => (text.substring(s.start, s.end), s.kind)) ==
        quoted, s"seed $seed <$text>")
      val base = text.replace(hole, "")
      payloads.foreach { p =>
        val filled = text.replace(hole, p)
        assert(TrinoDialect.splitStatements(filled) ==
          TrinoDialect.splitStatements(text).map(_.replace(hole, p)), s"seed $seed payload $p <$filled>")
        assert(TrinoDialect.rewrite(filled) == TrinoDialect.rewrite(text).replace(hole, p),
          s"seed $seed payload $p <$filled>")
      }
      assert(TrinoDialect.rewrite(base) == TrinoDialect.rewrite(text).replace(hole, ""), s"seed $seed")
    }
  }

  test("filter partitions rows: count(p) + count(!p) == count") {
    (0 until 8).foreach { i =>
      val df = draw(i).toDF("k", "v", "s")
      val c = df.count()
      val p = df.col("v") > 0L
      assert(df.filter(p).count() + df.filter(!p).count() == c, s"draw $i")
    }
  }

  test("inner join commutes") {
    (0 until 6).foreach { i =>
      val a = draw(i).toDF("k", "v", "s")
      val b = draw(i + 100).toDF("k", "w", "t")
      val ab = a.join(b, "k").select("k", "v", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val ba = b.join(a, "k").select("k", "v", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(ab == ba, s"draw $i")
    }
  }

  test("aggregation is partitioning-invariant (partial == final)") {
    (0 until 6).foreach { i =>
      val rows = draw(i)
      val expect = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      Seq(1, 3, 8).foreach { parts =>
        val got = rows.toDF("k", "v", "s").repartition(parts)
          .groupBy("k").sum("v").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect, s"draw $i parts $parts")
      }
    }
  }

  test("filter pushes through join: filter-after == filter-before") {
    (0 until 6).foreach { i =>
      val a = draw(i).toDF("k", "v", "s")
      val b = draw(i + 200).toDF("k", "w", "t")
      val after = a.join(b, "k").filter($"v" > 0L).count()
      val before = a.filter($"v" > 0L).join(b, "k").count()
      assert(after == before, s"draw $i")
    }
  }

  test("union-all then distinct == distinct set union") {
    (0 until 6).foreach { i =>
      val a = draw(i)
      val b = draw(i + 300)
      val got = a.toDF("k", "v", "s").union(b.toDF("k", "v", "s"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == (a.toSet ++ b.toSet), s"draw $i")
    }
  }

  test("orderBy+limit == sorted take k (top-k plan equivalence)") {
    (0 until 6).foreach { i =>
      val rows = draw(i)
      val got = rows.toDF("k", "v", "s").orderBy($"v".desc, $"k", $"s").limit(5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      val expect = rows.sortBy { case (k, v, s) => (-v, k, s) }.take(5)
      assert(got == expect, s"draw $i")
    }
  }

  test("store reads with stats pruning == full-scan filter (random data + predicates)") {
    // THE store-safety property: StatsPruner EXCLUDES files from the
    // read, so an over-eager prune silently loses rows. Random
    // multi-file tables x random predicate trees (incl. nulls, Not,
    // nested and/or) must read identically with and without pruning.
    import org.apache.spark.sql.Column
    val dataGen = Gen.listOfN(60, for {
      k <- Gen.chooseNum(0L, 20L)
      v <- Gen.chooseNum(-50, 50)
      s <- Gen.oneOf("a", "b", "c", null)
    } yield (k, v.toDouble, s))
    val leafGen: Gen[Column] = Gen.oneOf(
      Gen.chooseNum(0L, 20L).map(x => col("k") === x),
      Gen.chooseNum(0L, 20L).map(x => col("k") > x),
      Gen.chooseNum(-50, 50).map(x => col("v") <= x.toDouble),
      Gen.oneOf("a", "b", "c").map(x => col("s") === x),
      Gen.const(col("s").isNull),
      Gen.const(col("s").isNotNull))
    def predGen(depth: Int): Gen[Column] =
      if (depth == 0) leafGen
      else Gen.frequency(
        3 -> leafGen,
        2 -> (for { l <- predGen(depth - 1); r <- predGen(depth - 1) } yield l && r),
        2 -> (for { l <- predGen(depth - 1); r <- predGen(depth - 1) } yield l || r),
        1 -> predGen(depth - 1).map(c => !c))

    val rows = dataGen.pureApply(Gen.Parameters.default, Seed(2024L))
    val root = Files.createTempDirectory("prune_prop").resolve("t").toString
    val t = graft.store.GraftTable.create(spark, root,
      rows.toDF("k", "v", "s").repartition(6)) // several files, mixed ranges
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, String)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
        .sortBy(x => (x._1, x._2, Option(x._3).getOrElse("")))
    (0 until 25).foreach { i =>
      val p = predGen(2).pureApply(Gen.Parameters.default, Seed(5000L + i))
      val pruned = canon(t.read(filters = Seq(p)))
      val full = canon(t.read().filter(p))
      assert(pruned == full, s"draw $i predicate $p: pruned=${pruned.size} full=${full.size}")
    }
  }

  // --- custom join operators vs brute-force reference semantics ---------

  private val ptsGen: Gen[List[(Long, Long)]] =       // (key, t)
    Gen.listOfN(30, for {
      k <- Gen.chooseNum(0L, 4L)
      t <- Gen.chooseNum(0L, 50L)
    } yield (k, t))

  private val ivsGen: Gen[List[(Long, Long, Long)]] = // (key, ts, dur>=0 -> [ts, ts+dur])
    Gen.listOfN(12, for {
      k <- Gen.chooseNum(0L, 4L)
      ts <- Gen.chooseNum(0L, 50L)
      dur <- Gen.chooseNum(0L, 20L)
    } yield (k, ts, dur))

  test("asofLeft == brute-force latest-right-at-or-before, on random timelines") {
    (0 until 8).foreach { i =>
      val pts = ptsGen.pureApply(Gen.Parameters.default, Seed(7L + i))
        .zipWithIndex.map { case ((k, t), id) => (id.toLong, k, t) }
      // right side unique per (key, ts) — the operator's contract
      val rs = ivsGen.pureApply(Gen.Parameters.default, Seed(77L + i))
        .map { case (k, ts, dur) => (k, ts, dur.toDouble) }
        .groupBy(t => (t._1, t._2)).map { case ((k, ts), g) => (k, ts, g.map(_._3).max) }
        .toList
      val got = graft.operators.AsOfJoin.asofLeft(
          pts.toDF("id", "k", "t"), rs.toDF("k", "rt", "rv"), Seq("k"), "t", "rt")
        .collect().map(r => r.getLong(0) ->
          ((Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
      val want = pts.map { case (id, k, t) =>
        val cand = rs.filter(r => r._1 == k && r._2 <= t)
        id -> (if (cand.isEmpty) (None, None)
               else { val m = cand.maxBy(_._2); (Some(m._2), Some(m._3)) })
      }.toMap
      assert(got == want, s"draw $i")
    }
  }

  test("binnedIntervalJoin == brute-force containment, for every grain") {
    (0 until 6).foreach { i =>
      val pts = ptsGen.pureApply(Gen.Parameters.default, Seed(13L + i))
        .zipWithIndex.map { case ((k, t), id) => (id.toLong, k, t) }
      val ivs = ivsGen.pureApply(Gen.Parameters.default, Seed(131L + i))
        .zipWithIndex.map { case ((k, ts, dur), id) => (1000L + id, k, ts, ts + dur) }
      val want = (for {
        (pid, pk, t) <- pts
        (iid, ik, lo, hi) <- ivs
        if pk == ik && t >= lo && t <= hi
      } yield (pid, iid)).toSet
      for (grain <- Seq(1L, 3L, 16L, 100L)) {
        val got = graft.operators.RangeJoin.binnedIntervalJoin(
            pts.toDF("pid", "k", "t"), ivs.toDF("iid", "k", "lo", "hi"),
            Seq("k"), "t", "lo", "hi", grain)
          .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == want, s"draw $i grain $grain")
      }
    }
  }
}
