package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus

/** Trino-name parity functions, registered into Catalyst's
  * FunctionRegistry so `spark.sql` text written against the reference's
  * SQL dialect (Trino 468 — walden `docker/devserver/Dockerfile:14`)
  * keeps working. Each is a thin Catalyst-expression rewrite — no UDFs,
  * so whole-stage codegen is preserved.
  */
object GraftFunctions {

  /** Name -> expression builder for every graft function. One list,
    * two consumers: imperative register(spark) below, and
    * graft.engine.GraftExtensions for config-driven injection
    * (`spark.sql.extensions`) into sessions we don't construct
    * (Thrift server, Spark Connect). */
  val injections: Seq[(String, Seq[Expression] => Expression)] =
    rawInjections.map { case (n, b) => n -> guarded(n, b) }

  private def rawInjections: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // Trino approx_distinct(x[, e]) -> HLL++ (same sketch family); the
    // optional max-standard-error maps onto relativeSD (round 9 — the
    // 2-arg form was previously accepted and the error SILENTLY
    // ignored).
    "approx_distinct" -> { exprs: Seq[Expression] =>
      val agg = exprs match {
        case Seq(x) => HyperLogLogPlusPlus(x)
        case Seq(x, e) =>
          require(e.foldable, "approx_distinct max standard error must be a constant")
          HyperLogLogPlusPlus(x, e.eval() match {
            case d: Double => d
            case d: java.math.BigDecimal => d.doubleValue()
            case d: org.apache.spark.sql.types.Decimal => d.toDouble
            case other => sys.error(
              s"approx_distinct max standard error must be numeric, got $other")
          })
      }
      agg.toAggregateExpression()
    },
    // Trino strpos(string, substring) -> 1-based position, 0 if absent.
    "strpos" -> { exprs: Seq[Expression] =>
      StringLocate(exprs(1), exprs(0), Literal(1))
    },
    // Trino date_diff(unit, from, to) = to - from in `unit`s.
    "date_diff" -> { exprs: Seq[Expression] =>
      TimestampDiff(unitOf(exprs(0)), Cast(exprs(1), org.apache.spark.sql.types.TimestampType),
        Cast(exprs(2), org.apache.spark.sql.types.TimestampType))
    },
    // Trino TRY(expr) -> NULL on runtime error.
    "try" -> { exprs: Seq[Expression] => TryEval(exprs.head) },
    // Trino json_extract_scalar(json, path).
    "json_extract_scalar" -> { exprs: Seq[Expression] =>
      GetJsonObject(exprs(0), exprs(1))
    },
    // Trino day_of_week: ISO, Monday=1..Sunday=7 (Spark dayofweek is
    // Sunday=1..Saturday=7).
    "day_of_week" -> { exprs: Seq[Expression] =>
      val spk = DayOfWeek(Cast(exprs.head, org.apache.spark.sql.types.DateType))
      Add(Pmod(Add(spk, Literal(5)), Literal(7)), Literal(1))
    },
    // Trino cardinality(array|map) -> size.
    "cardinality" -> { exprs: Seq[Expression] => Size(exprs.head) },
    // Trino format_datetime ~ date_format (format-pattern caveats documented).
    "format_datetime" -> { exprs: Seq[Expression] =>
      DateFormatClass(Cast(exprs(0), org.apache.spark.sql.types.TimestampType), exprs(1))
    },
    // Trino to_unixtime(ts) -> double seconds WITH fraction (a
    // timestamp-to-double cast keeps sub-second precision; the old
    // UnixTimestamp spelling truncated to whole seconds).
    "to_unixtime" -> { exprs: Seq[Expression] =>
      Cast(Cast(exprs.head, org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.DoubleType)
    },
    // graft-native: codegen'd dot product over array<double> (hot path
    // of the similarity-search operators; same fold order as the HOF
    // spelling so oracle hashes are unchanged).
    "vector_dot" -> { exprs: Seq[Expression] => VectorDot(exprs(0), exprs(1)) },
    "vector_l2sq" -> { exprs: Seq[Expression] => VectorL2Sq(exprs(0), exprs(1)) },
    "int_vec_dot" -> { exprs: Seq[Expression] => IntVecDot(exprs(0), exprs(1)) },
    // graft-native: merge-count of two sorted array<long> sets (the
    // verification kernel of the set-similarity joins).
    "sorted_intersect_size" -> { exprs: Seq[Expression] =>
      SortedIntersectSize(exprs(0), exprs(1))
    },
    // graft-native: int8-code packing + exact integer dot (the ANN
    // quantized pre-score kernel — 4x fewer candidate-join bytes).
    "pack_int8" -> { exprs: Seq[Expression] => PackInt8(exprs.head) },
    "int8_dot" -> { exprs: Seq[Expression] => Int8Dot(exprs(0), exprs(1)) },
    // graft-native: whole-document SimHash in one pass (replaces the
    // word x64-position explode+shuffle spelling; bit-identical).
    "simhash64" -> { exprs: Seq[Expression] => Simhash64(exprs.head) },
    // graft-native: fused rolling fingerprint (t05's winnowing min —
    // one codegen'd window loop replaces an interpreted HOF lambda).
    "min_gram_md5" -> { exprs: Seq[Expression] => MinGramMd5(exprs(0), exprs(1)) },
    // graft-native: fused MinHash signature + char-gram generator (the
    // t02/t04 per-document kernel; replaces ~19 interpreted HOF passes).
    "shingle_sig" -> { exprs: Seq[Expression] =>
      ShingleSig(exprs(0), exprs(1), exprs(2)) },
    "char_grams" -> { exprs: Seq[Expression] => CharGrams(exprs(0), exprs(1)) },
    // graft-native: fused distinct word n-grams (the decontamination
    // front half; replaces the interpreted transform/concat_ws HOF).
    "word_grams" -> { exprs: Seq[Expression] =>
      WordGrams(exprs(0), exprs(1),
        dedup = exprs.lift(2).forall(e => boolLit(e, "word_grams dedup"))) },
    // graft-native: fused per-window gram md5s (t23/t29 boilerplate
    // keys, t32/t33 exact-substring window hashes).
    "word_gram_md5s" -> { exprs: Seq[Expression] => WordGramMd5s(exprs(0), exprs(1)) },
    // Trino approx_most_frequent(buckets, value[, capacity]) — Space-
    // Saving top-k summary (TypedImperativeAggregate).
    "approx_most_frequent" -> { exprs: Seq[Expression] =>
      val k = intLit(exprs(0), "approx_most_frequent buckets")
      val cap = if (exprs.size > 2) intLit(exprs(2), "approx_most_frequent capacity") else math.max(256, k)
      ApproxMostFrequent(exprs(1), k, cap).toAggregateExpression()
    },
    // graft-native KMV bottom-k distinct sketch family (KmvSketch.scala
    // — corpus-overlap estimation with NO join: one scan per corpus,
    // k·8-byte mergeable sketches, exact below saturation so f20 is
    // oracle-checkable).
    "kmv_sketch" -> { exprs: Seq[Expression] =>
      KmvSketch(exprs(0), intLit(exprs(1), "kmv_sketch k")).toAggregateExpression()
    },
    "kmv_union_agg" -> { exprs: Seq[Expression] =>
      KmvUnionAgg(exprs.head).toAggregateExpression()
    },
    // Trino min_by/max_by(x, y, n) — bounded ordered-set sampler
    // (MinKBy TypedImperativeAggregate; 2-arg form passes through to
    // Spark's builtin so registering the 3-arg form never narrows it).
    "min_by" -> { exprs: Seq[Expression] =>
      exprs match {
        case Seq(x, y) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(x, y)
            .toAggregateExpression()
        case Seq(x, y, n) =>
          MinKBy(x, y, intLit(n, "min_by n"), reverse = false).toAggregateExpression()
      }
    },
    "max_by" -> { exprs: Seq[Expression] =>
      exprs match {
        case Seq(x, y) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(x, y)
            .toAggregateExpression()
        case Seq(x, y, n) =>
          MinKBy(x, y, intLit(n, "max_by n"), reverse = true).toAggregateExpression()
      }
    },
    // graft-native deterministic argmax (ArgMaxBy.scala): max_by with a
    // struct tie-breaker key WITHOUT the SortAggregate degradation
    // Spark's declarative max_by takes on struct buffers — runs under
    // ObjectHashAggregate, O(1) state, no sort (the IVF cell-assignment
    // path, r12 verdict #3).
    "arg_max_by" -> { exprs: Seq[Expression] =>
      ArgMaxBy(exprs(0), exprs(1)).toAggregateExpression()
    },
    "arg_min_by" -> { exprs: Seq[Expression] =>
      ArgMaxBy(exprs(0), exprs(1), reverse = true).toAggregateExpression()
    },
    // graft-native q-digest mergeable percentile sketch family
    // (QDigest.scala — store per-shard sketches, merge at query time;
    // exact below n<k so f22 is oracle-checkable, same contract as KMV).
    "qdigest_agg" -> { exprs: Seq[Expression] =>
      QdigestAgg(exprs(0), intLit(exprs(1), "qdigest_agg k")).toAggregateExpression()
    },
    "qdigest_merge_agg" -> { exprs: Seq[Expression] =>
      QdigestMergeAgg(exprs.head).toAggregateExpression()
    },
    "qdigest_merge" -> { exprs: Seq[Expression] => QdigestMerge(exprs(0), exprs(1)) },
    "qdigest_quantile" -> { exprs: Seq[Expression] => QdigestQuantile(exprs(0), exprs(1)) },
    "qdigest_rank_of" -> { exprs: Seq[Expression] => QdigestRankOf(exprs(0), exprs(1)) },
    "qdigest_count" -> { exprs: Seq[Expression] => QdigestCount(exprs.head) },
    "kmv_distinct_est" -> { exprs: Seq[Expression] => KmvDistinctEst(exprs.head) },
    "kmv_union" -> { exprs: Seq[Expression] => KmvUnion(exprs(0), exprs(1)) },
    "kmv_intersect_est" -> { exprs: Seq[Expression] => KmvIntersectEst(exprs(0), exprs(1)) },
    "kmv_jaccard_est" -> { exprs: Seq[Expression] => KmvJaccardEst(exprs(0), exprs(1)) },
    // Trino setdigest family (SetDigest.scala — MinHash with saturating
    // multiplicities; Trino's `cardinality(setdigest)` is spelled
    // set_digest_cardinality because temp functions can't overload the
    // array/map cardinality alias above by argument type).
    "make_set_digest" -> { exprs: Seq[Expression] =>
      val k = if (exprs.size > 1) intLit(exprs(1), "make_set_digest k") else 2048
      MakeSetDigest(exprs(0), k).toAggregateExpression()
    },
    "merge_set_digest" -> { exprs: Seq[Expression] =>
      MergeSetDigest(exprs.head).toAggregateExpression()
    },
    "set_digest_cardinality" -> { exprs: Seq[Expression] =>
      SetDigestCardinality(exprs.head) },
    "intersection_cardinality" -> { exprs: Seq[Expression] =>
      IntersectionCardinality(exprs(0), exprs(1)) },
    "jaccard_index" -> { exprs: Seq[Expression] =>
      JaccardIndex(exprs(0), exprs(1)) },
    "hash_counts" -> { exprs: Seq[Expression] => HashCounts(exprs.head) },
    // Trino tdigest family (TDigest.scala — double-valued percentile
    // sketch; qdigest covers the integer universe) + Trino's
    // POLYMORPHIC merge(sketch) aggregate (dispatches on wire magic:
    // tdigest/qdigest/setdigest, like Trino's generic merge()).
    "tdigest_agg" -> { exprs: Seq[Expression] =>
      TDigestAgg(exprs(0),
        weight = if (exprs.size > 1) exprs(1) else Literal(1.0d),
        compression = if (exprs.size > 2) intLit(exprs(2), "tdigest_agg compression") else 100)
        .toAggregateExpression()
    },
    "merge" -> { exprs: Seq[Expression] =>
      SketchMergeAgg(exprs.head).toAggregateExpression() },
    // Trino approx_set(x) -> a DataSketches HLL column (Spark's
    // hll_sketch_agg); merge() above unions it, hll_sketch_estimate
    // reads the cardinality — the walden HLL column pattern end to end
    // under Trino names.
    "approx_set" -> { exprs: Seq[Expression] =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg(exprs.head)
        .toAggregateExpression()
    },
    "value_at_quantile" -> { exprs: Seq[Expression] =>
      ValueAtQuantile(exprs(0), exprs(1)) },
    "values_at_quantiles" -> { exprs: Seq[Expression] =>
      // the kernel reads DoubleType elements — cast here so int/decimal
      // /float quantile arrays arrive as array<double>, not raw bytes
      // reinterpreted (r12 review)
      ValuesAtQuantiles(exprs(0), Cast(exprs(1),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))) },
    "trimmed_mean" -> { exprs: Seq[Expression] =>
      TrimmedMean(exprs(0), exprs(1), exprs(2)) },
    // Trino map-building aggregates (MapAggs.scala): exact per-group
    // value counts, map-row union, and key->all-values multimaps.
    "histogram" -> { exprs: Seq[Expression] =>
      HistogramAgg(exprs.head).toAggregateExpression() },
    // Trino numeric_histogram(buckets, x[, weight]) — Ben-Haim/Tom-Tov
    // streaming histogram (NumericHistogram.scala); weight folds into
    // the centroid count.
    "numeric_histogram" -> { exprs: Seq[Expression] =>
      NumericHistogramAgg(exprs(1),
        intLit(exprs(0), "numeric_histogram buckets"),
        weight = if (exprs.size > 2) exprs(2) else Literal(1.0d))
        .toAggregateExpression()
    },
    "map_union" -> { exprs: Seq[Expression] =>
      MapUnionAgg(exprs.head).toAggregateExpression() },
    "multimap_agg" -> { exprs: Seq[Expression] =>
      MultimapAgg(exprs(0), exprs(1)).toAggregateExpression() },
    // Trino aggregate-name rewrites onto Spark-native aggregates (all
    // codegen'd/builtin — no new execution machinery):
    //   geometric_mean(x) = exp(avg(ln(x))) — Trino's own definition;
    //   arbitrary(x) = any non-null value -> First(x, ignoreNulls);
    //   bitwise_and_agg / bitwise_or_agg -> bit_and / bit_or;
    //   checksum(x) -> order-insensitive WRAPPING SUM of
    //   xxhash64(x)·PRIME as 8-byte varbinary (ChecksumAgg — same fold
    //   shape as Trino's; the hash kernel is engine-defined in both
    //   systems, and a sum, unlike XOR, is multiplicity-sensitive).
    "geometric_mean" -> { exprs: Seq[Expression] =>
      // Spark's ln returns NULL for x <= 0 and Average skips NULLs,
      // which would silently DROP those rows; Trino's semantics (r12
      // review): any zero makes the mean 0 (ln -> -Inf), any negative
      // makes it NaN — spell those sentinels explicitly, NULL inputs
      // still skip like every aggregate.
      val xd = Cast(exprs.head, org.apache.spark.sql.types.DoubleType)
      val lnOrSentinel = CaseWhen(Seq(
        (LessThan(xd, Literal(0.0d)), Literal(Double.NaN)),
        (EqualTo(xd, Literal(0.0d)), Literal(Double.NegativeInfinity))),
        Log(xd))
      Exp(new org.apache.spark.sql.catalyst.expressions.aggregate.Average(
        lnOrSentinel).toAggregateExpression())
    },
    "arbitrary" -> { exprs: Seq[Expression] =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.First(
        exprs.head, true).toAggregateExpression()
    },
    "bitwise_and_agg" -> { exprs: Seq[Expression] =>
      org.apache.spark.sql.catalyst.expressions.aggregate.BitAndAgg(exprs.head)
        .toAggregateExpression()
    },
    "bitwise_or_agg" -> { exprs: Seq[Expression] =>
      org.apache.spark.sql.catalyst.expressions.aggregate.BitOrAgg(exprs.head)
        .toAggregateExpression()
    },
    "checksum" -> { exprs: Seq[Expression] =>
      ChecksumAgg(exprs.head).toAggregateExpression()
    },
    // Trino URL functions -> ParseUrl parts.
    "url_extract_host" -> { exprs: Seq[Expression] =>
      ParseUrl(Seq(exprs.head, Literal("HOST"))) },
    "url_extract_path" -> { exprs: Seq[Expression] =>
      ParseUrl(Seq(exprs.head, Literal("PATH"))) },
    "url_extract_protocol" -> { exprs: Seq[Expression] =>
      ParseUrl(Seq(exprs.head, Literal("PROTOCOL"))) },
    "url_extract_query" -> { exprs: Seq[Expression] =>
      ParseUrl(Seq(exprs.head, Literal("QUERY"))) },
    "url_extract_fragment" -> { exprs: Seq[Expression] =>
      ParseUrl(Seq(exprs.head, Literal("REF"))) },
    "url_extract_parameter" -> { exprs: Seq[Expression] =>
      ParseUrl(Seq(exprs.head, Literal("QUERY"), exprs(1))) },
    // Trino scalar parity batch 2 (ScalarParity.scala kernels through
    // StaticInvoke — static calls inside whole-stage codegen, no UDFs):
    "hamming_distance" -> { exprs: Seq[Expression] =>
      staticCall("hammingDistance", org.apache.spark.sql.types.LongType,
        Seq(asString(exprs(0)), asString(exprs(1))))
    },
    "normalize" -> { exprs: Seq[Expression] =>
      staticCall("normalize", org.apache.spark.sql.types.StringType,
        Seq(asString(exprs(0)),
          if (exprs.size > 1) asString(exprs(1)) else Literal("NFC")))
    },
    "codepoint" -> { exprs: Seq[Expression] =>
      staticCall("codepoint", org.apache.spark.sql.types.IntegerType,
        Seq(asString(exprs.head)))
    },
    "from_base" -> { exprs: Seq[Expression] =>
      staticCall("fromBase", org.apache.spark.sql.types.LongType,
        Seq(asString(exprs(0)), Cast(exprs(1), org.apache.spark.sql.types.LongType)))
    },
    "to_base" -> { exprs: Seq[Expression] =>
      staticCall("toBase", org.apache.spark.sql.types.StringType,
        Seq(Cast(exprs(0), org.apache.spark.sql.types.LongType),
          Cast(exprs(1), org.apache.spark.sql.types.LongType)))
    },
    // Trino scalar parity batch 3 (round 13; same StaticInvoke device).
    // NOT registered: width_bucket and luhn_check — Spark 4 ships both
    // NATIVELY (probed round 13: functionExists = true in a bare
    // session) and a registry entry would SHADOW the builtin with
    // different contract semantics (Spark returns NULL/false where
    // Trino errors on a bad bucket count / non-digit input — the
    // dialect delta is pinned in ScalarParitySpec). Only the genuinely
    // absent three get kernels:
    "to_big_endian_64" -> { exprs: Seq[Expression] =>
      staticCall("toBigEndian64", org.apache.spark.sql.types.BinaryType,
        Seq(Cast(exprs.head, org.apache.spark.sql.types.LongType)))
    },
    "from_big_endian_64" -> { exprs: Seq[Expression] =>
      staticCall("fromBigEndian64", org.apache.spark.sql.types.LongType,
        Seq(Cast(exprs.head, org.apache.spark.sql.types.BinaryType)))
    },
    "great_circle_distance" -> { exprs: Seq[Expression] =>
      val d = org.apache.spark.sql.types.DoubleType
      staticCall("greatCircleDistance", d, exprs.map(Cast(_, d)))
    },
    "cosine_similarity" -> { exprs: Seq[Expression] =>
      val mt = org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.DoubleType)
      staticCall("cosineSimilarityMap", org.apache.spark.sql.types.DoubleType,
        Seq(Cast(exprs(0), mt), Cast(exprs(1), mt)))
    },
    // NOTE: Trino's date_add('unit', n, ts) is NOT registered here —
    // Spark's PARSER reserves date_add(unit, ...) grammar (a quoted
    // unit is a ParseException before any registry lookup), so the
    // Trino spelling is handled where Trino SQL text arrives: the
    // GraftSql dialect rewrite (date_add('unit',... ->
    // timestampadd(UNIT,..., SqlSpec-pinned).
    "last_day_of_month" -> { exprs: Seq[Expression] =>
      LastDay(Cast(exprs.head, org.apache.spark.sql.types.DateType)) },
    "week_of_year" -> { exprs: Seq[Expression] =>
      WeekOfYear(Cast(exprs.head, org.apache.spark.sql.types.DateType)) },
    // Trino to_hex(varbinary) / from_hex(string) -> Spark hex/unhex.
    "to_hex" -> { exprs: Seq[Expression] => Hex(exprs.head) },
    "from_hex" -> { exprs: Seq[Expression] => Unhex(exprs.head) },
    // Trino chr(n) -> Spark char; levenshtein_distance -> levenshtein.
    "chr" -> { exprs: Seq[Expression] => Chr(exprs.head) },
    "levenshtein_distance" -> { exprs: Seq[Expression] =>
      Levenshtein(exprs(0), exprs(1)) },
    // graft-native UDTF (SURVEY §2.6 generator row): one row per
    // contiguous n-gram; SELECT-list generator or LATERAL VIEW.
    "ngrams" -> { exprs: Seq[Expression] =>
      NgramsGenerator(exprs(0), exprs(1)) },
    // Spark's own runtime-filter kernel pair, exposed as SQL functions
    // (the build/probe halves of a semi-join bloom prefilter — what
    // InjectRuntimeFilter plants automatically when stats allow, made
    // available as an explicit operator for build/probe pipelines like
    // t24 where the build side is computed, not a scanned table):
    //   bloom_build(x, est_items, num_bits)  — aggregate; distributed
    //     partial blooms over xxhash64(x), merged into one serialized
    //     bitset (the only thing that crosses the wire);
    //   might_contain(bf, x) — codegen'd probe of xxhash64(x) against
    //     a bloom CONSTANT (literal bytes or scalar subquery). No
    //     false negatives by construction; false positives must be
    //     removed by an exact verify downstream.
    "bloom_build" -> { exprs: Seq[Expression] =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        new XxHash64(Seq(exprs(0))),
        Cast(exprs(1), org.apache.spark.sql.types.LongType),
        Cast(exprs(2), org.apache.spark.sql.types.LongType)).toAggregateExpression()
    },
    "might_contain" -> { exprs: Seq[Expression] =>
      BloomFilterMightContain(exprs(0), new XxHash64(Seq(exprs(1))))
    })

  /** Declared (min, max) argument counts, consulted by [[guarded]] so
    * EVERY builder rejects wrong-arity calls as a clean analysis error
    * instead of an IndexOutOfBoundsException deep in the builder
    * (ADVICE r8, generalized by the round-9 review — the per-builder
    * spelling fixed five functions and left the same bug class in the
    * rest). A function absent from this map passes through unguarded
    * (the TVFs validate their own 1..n shapes). */
  private val arities: Map[String, (Int, Int)] = Map(
    "approx_distinct" -> ((1, 2)), "strpos" -> ((2, 2)), "date_diff" -> ((3, 3)),
    "try" -> ((1, 1)), "json_extract_scalar" -> ((2, 2)), "day_of_week" -> ((1, 1)),
    "cardinality" -> ((1, 1)), "format_datetime" -> ((2, 2)), "to_unixtime" -> ((1, 1)),
    "vector_dot" -> ((2, 2)), "sorted_intersect_size" -> ((2, 2)),
    "vector_l2sq" -> ((2, 2)), "int_vec_dot" -> ((2, 2)),
    "pack_int8" -> ((1, 1)), "int8_dot" -> ((2, 2)), "simhash64" -> ((1, 1)),
    "min_gram_md5" -> ((2, 2)), "shingle_sig" -> ((3, 3)), "char_grams" -> ((2, 2)),
    "word_grams" -> ((2, 3)), "word_gram_md5s" -> ((2, 2)),
    "approx_most_frequent" -> ((2, 3)),
    "min_by" -> ((2, 3)), "max_by" -> ((2, 3)), "arg_max_by" -> ((2, 2)), "arg_min_by" -> ((2, 2)),
    "kmv_sketch" -> ((2, 2)), "kmv_union_agg" -> ((1, 1)),
    "kmv_distinct_est" -> ((1, 1)), "kmv_union" -> ((2, 2)),
    "kmv_intersect_est" -> ((2, 2)), "kmv_jaccard_est" -> ((2, 2)),
    "qdigest_agg" -> ((2, 2)), "qdigest_merge_agg" -> ((1, 1)),
    "qdigest_merge" -> ((2, 2)), "qdigest_quantile" -> ((2, 2)),
    "qdigest_rank_of" -> ((2, 2)), "qdigest_count" -> ((1, 1)),
    "make_set_digest" -> ((1, 2)), "merge_set_digest" -> ((1, 1)),
    "set_digest_cardinality" -> ((1, 1)), "intersection_cardinality" -> ((2, 2)),
    "jaccard_index" -> ((2, 2)), "hash_counts" -> ((1, 1)),
    "histogram" -> ((1, 1)), "map_union" -> ((1, 1)), "multimap_agg" -> ((2, 2)),
    "numeric_histogram" -> ((2, 3)),
    "tdigest_agg" -> ((1, 3)), "merge" -> ((1, 1)), "approx_set" -> ((1, 1)),
    "value_at_quantile" -> ((2, 2)), "values_at_quantiles" -> ((2, 2)),
    "trimmed_mean" -> ((3, 3)),
    "hamming_distance" -> ((2, 2)), "normalize" -> ((1, 2)),
    "to_big_endian_64" -> ((1, 1)), "from_big_endian_64" -> ((1, 1)),
    "great_circle_distance" -> ((4, 4)), "cosine_similarity" -> ((2, 2)),
    "codepoint" -> ((1, 1)), "from_base" -> ((2, 2)), "to_base" -> ((2, 2)),
    "last_day_of_month" -> ((1, 1)), "week_of_year" -> ((1, 1)),
    "geometric_mean" -> ((1, 1)), "arbitrary" -> ((1, 1)),
    "bitwise_and_agg" -> ((1, 1)), "bitwise_or_agg" -> ((1, 1)),
    "checksum" -> ((1, 1)),
    "url_extract_host" -> ((1, 1)), "url_extract_path" -> ((1, 1)),
    "url_extract_protocol" -> ((1, 1)), "url_extract_query" -> ((1, 1)),
    "url_extract_fragment" -> ((1, 1)), "url_extract_parameter" -> ((2, 2)),
    "to_hex" -> ((1, 1)), "from_hex" -> ((1, 1)), "chr" -> ((1, 1)),
    "levenshtein_distance" -> ((2, 2)), "ngrams" -> ((2, 2)),
    "bloom_build" -> ((3, 3)), "might_contain" -> ((2, 2)))

  private def guarded(name: String,
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      arities.get(name).foreach { case (lo, hi) =>
        if (exprs.length < lo || exprs.length > hi)
          throw new IllegalArgumentException(
            s"$name takes ${if (lo == hi) s"$lo" else s"$lo to $hi"} " +
              s"argument(s), got ${exprs.length}")
      }
      b(exprs)
    }

  /** StaticInvoke onto a [[GraftStringOps]] kernel: the generated code
    * calls the static method directly — stays inside codegen. All the
    * kernels throw on contract violations (Trino semantics), so
    * propagateNull handles SQL NULLs and nothing else is swallowed. */
  private def staticCall(method: String,
      dt: org.apache.spark.sql.types.DataType,
      args: Seq[Expression]): Expression =
    org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      GraftStringOps.getClass, dt, method, args,
      propagateNull = true, returnNullable = false)

  private def asString(e: Expression): Expression =
    Cast(e, org.apache.spark.sql.types.StringType)

  private def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v, _) => String.valueOf(v).toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Table-valued functions: SQL-level entry into the versioned store.
    * `graft_table('<root>')` reads the head; a second argument time-
    * travels — an integer version or a branch/tag name (Trino Iceberg
    * `FOR VERSION AS OF` parity, spelled as a TVF because the store is
    * path-addressed, not catalog-addressed).
    */
  val tableInjections: Seq[(String, Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    "graft_table" -> { exprs: Seq[Expression] =>
      val spark = SparkSession.active
      val path = exprs.head match {
        case Literal(s, org.apache.spark.sql.types.StringType) => String.valueOf(s)
        case other => throw new IllegalArgumentException(
          s"graft_table path must be a string literal, got $other")
      }
      val t = graft.store.GraftTable.load(spark, path)
      val df = exprs.drop(1).toList match {
        case Nil => t.read()
        case Literal(v, org.apache.spark.sql.types.IntegerType) :: Nil =>
          t.read(asOfVersion = Some(String.valueOf(v).toLong))
        case Literal(v, org.apache.spark.sql.types.LongType) :: Nil =>
          t.read(asOfVersion = Some(String.valueOf(v).toLong))
        case Literal(s, org.apache.spark.sql.types.StringType) :: Nil =>
          t.read(ref = Some(String.valueOf(s)))
        case other => throw new IllegalArgumentException(
          s"graft_table(path[, version|'ref']): bad arguments $other")
      }
      df.queryExecution.logical
    },

    // CDC diff between two snapshots (Delta change-data-feed / Nessie
    // branch-diff parity at the SQL level): rows with _change_type
    // 'insert'/'delete'; an update is one of each.
    //   graft_table_changes('<root>', <fromVersion>, <toVersion>)
    "graft_table_changes" -> { exprs: Seq[Expression] =>
      val spark = SparkSession.active
      require(exprs.length == 3,
        "graft_table_changes(path, fromVersion, toVersion)")
      def str(e: Expression): String = e match {
        case Literal(s, org.apache.spark.sql.types.StringType) => String.valueOf(s)
        case other => throw new IllegalArgumentException(
          s"graft_table_changes path must be a string literal, got $other")
      }
      def long(e: Expression, what: String): Long = e match {
        case Literal(v, org.apache.spark.sql.types.IntegerType) => String.valueOf(v).toLong
        case Literal(v, org.apache.spark.sql.types.LongType) => String.valueOf(v).toLong
        case other => throw new IllegalArgumentException(
          s"graft_table_changes $what must be an integer literal, got $other")
      }
      graft.store.GraftTable.load(spark, str(exprs(0)))
        .changes(long(exprs(1), "fromVersion"), long(exprs(2), "toVersion"))
        .queryExecution.logical
    },

    // Commit history as a relation (Iceberg `t.history` / Delta
    // DESCRIBE HISTORY parity at the SQL level) — metadata-only, one
    // O(1) log read per commit:
    //   graft_table_history('<root>')
    "graft_table_history" -> { exprs: Seq[Expression] =>
      val spark = SparkSession.active
      require(exprs.length == 1, "graft_table_history(path)")
      val path = exprs.head match {
        case Literal(s, org.apache.spark.sql.types.StringType) => String.valueOf(s)
        case other => throw new IllegalArgumentException(
          s"graft_table_history path must be a string literal, got $other")
      }
      val t = graft.store.GraftTable.load(spark, path)
      val rows = t.history.map(c => org.apache.spark.sql.Row(
        c.version, c.parent, c.op,
        c.added.size, c.added.map(_.rows).sum, c.removed.size,
        new java.sql.Timestamp(c.timestampMs)))
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("parent", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("op", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_added_files", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("n_added_rows", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_removed_files", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("committed_at", org.apache.spark.sql.types.TimestampType)))
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, sch).queryExecution.logical
    },

    // SQL-level row-pattern matching (Trino exposes MATCH_RECOGNIZE as
    // SQL; we expose the same matcher TVF-style since Spark's parser
    // has no MATCH_RECOGNIZE clause):
    //   graft_match_recognize(
    //     'table_or_view' | 'SELECT ...',     -- source (query strings
    //                                         -- power the SQL-text
    //                                         -- MATCH_RECOGNIZE rewrite)
    //     'part_col[,part_col...]',
    //     'order_col[ desc][,order_col...]',  -- per-column ASC/DESC
    //     'SYM:<bool sql expr>[;SYM2:...]',   -- DEFINE
    //     'D+ U+',                            -- PATTERN
    //     'name:agg:symbol[:field][,...]'     -- MEASURES
    //     [, 'one'|'all'|'one_next'|'all_next' -- ROWS PER MATCH mode;
    //                                         -- *_next = AFTER MATCH
    //                                         -- SKIP TO NEXT ROW
    //     [, 'true'|'false']])                -- prePartitioned: caller
    //                                         -- asserts the source is
    //                                         -- already key-clustered
    //                                         -- + sorted (the nav-
    //                                         -- window wrapper is)
    // Delegates to operators.PatternMatch (same NFA, same measures).
    // 'all' = ALL ROWS PER MATCH: keys, order cols, match_num,
    // classifier per matched row, then measures (round 9: run_-prefixed
    // aggs evaluate RUNNING, bare aggs FINAL per-match constants).
    "graft_match_recognize" -> { exprs: Seq[Expression] =>
      val spark = SparkSession.active
      def str(e: Expression, what: String): String = e match {
        case Literal(s, org.apache.spark.sql.types.StringType) => String.valueOf(s)
        case other => throw new IllegalArgumentException(
          s"graft_match_recognize $what must be a string literal, got $other")
      }
      require(exprs.length >= 6 && exprs.length <= 10,
        "graft_match_recognize(source, partition_cols, order_cols, defines, " +
          "pattern, measures[, mode[, prepartitioned[, skip[, histnav]]]])")
      val srcStr = str(exprs(0), "source")
      val df =
        if (srcStr.matches("""(?is)^\s*(SELECT|WITH|VALUES)\b.*""")) spark.sql(srcStr)
        else spark.table(srcStr)
      def cols(e: Expression, what: String): Seq[String] = {
        val cs = str(e, what).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(cs.nonEmpty,
          s"graft_match_recognize $what must name at least one column " +
            "(unpartitioned matching is not supported: a global row " +
            "pattern serializes the whole input through one task)")
        cs
      }
      val partCols = cols(exprs(1), "partition_cols")
      val orderCols = cols(exprs(2), "order_cols")
      val symbols = str(exprs(3), "defines").split(";").map(_.trim).filter(_.nonEmpty).toSeq
        .map { d =>
          val i = d.indexOf(':')
          require(i > 0, s"bad DEFINE '$d' (want SYM:<bool expr>)")
          d.substring(0, i).trim -> org.apache.spark.sql.functions.expr(d.substring(i + 1))
        }
      // measure aggs may carry a 'run_' prefix = SQL RUNNING semantics
      // (ALL ROWS mode; bare agg = FINAL); agg 'classifier' is the SQL
      // CLASSIFIER() function (field-less, like count)
      val measures = str(exprs(5), "measures").split(",").map(_.trim).filter(_.nonEmpty).toSeq
        .map { m =>
          def mk(n: String, agg0: String, sym: String, f: String, occ: Int = 0) =
            graft.operators.PatternMatch.Measure(
              n, agg0.stripPrefix("run_"), sym, f,
              running = agg0.startsWith("run_"), occ = occ)
          m.split(":").map(_.trim) match {
            case Array(n, agg, sym)    => mk(n, agg, sym, "")
            case Array(n, agg, sym, f) => mk(n, agg, sym, f)
            // 5th field = SQL:2016 occurrence argument (round 10)
            case Array(n, agg, sym, f, occ) => mk(n, agg, sym, f, occ.toInt)
            case other => throw new IllegalArgumentException(
              s"bad MEASURE '$m' (want name:[run_]agg:symbol[:field[:occ]])")
          }
        }
      val mode = if (exprs.length >= 7) str(exprs(6), "mode") else "one"
      val pre = exprs.length >= 8 && (str(exprs(7), "prepartitioned") match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"graft_match_recognize prepartitioned must be 'true' or 'false', got '$other'")
      })
      // mode may carry a '_next' suffix = AFTER MATCH SKIP TO NEXT ROW;
      // the optional 9th arg is the full skip spec ("past last row" |
      // "to next row" | "to first SYM" | "to last SYM") and wins
      val skipSpec =
        if (exprs.length >= 9) str(exprs(8), "skip")
        else if (mode.endsWith("_next")) "to next row"
        else "past last row"
      // classifier-history navigation spec (round 10):
      // 'placeholder:first|last:SYM:col[:occ][;...]' — FIRST/LAST(sym.col)
      // inside DEFINE, bound by the matcher during the NFA walk.
      // Round 11 adds the classifier/match-number kinds:
      //   name:cls_first|cls_last:SYM_or_*:-[:occ]  FIRST/LAST(CLASSIFIER([S]))
      //   name:clsprev:*:-:n                        PREV(CLASSIFIER(), n)
      //   name:matchnum:*:-                         MATCH_NUMBER()
      val navRefs =
        if (exprs.length < 10) Nil
        else str(exprs(9), "histnav").split(";").map(_.trim).filter(_.nonEmpty).toSeq
          .map { h =>
            def mk(nm: String, fl: String, sym: String, f: String, occ: Int) =
              fl match {
                case "first" | "last" =>
                  graft.operators.PatternMatch.NavRef(nm, fl == "first", sym, f, occ)
                case "cls_first" | "cls_last" =>
                  graft.operators.PatternMatch.NavRef(nm, fl == "cls_first", sym,
                    "", occ, kind = "cls")
                case "clsprev" =>
                  graft.operators.PatternMatch.NavRef(nm, first = false, "*", "",
                    occ, kind = "clsprev")
                case "matchnum" =>
                  graft.operators.PatternMatch.NavRef(nm, first = false, "*", "",
                    0, kind = "matchnum")
                case other => throw new IllegalArgumentException(
                  s"bad histnav entry '$h' (unknown nav kind '$other')")
              }
            h.split(":").map(_.trim) match {
              case Array(nm, fl, sym, f)      => mk(nm, fl, sym, f, 0)
              // 5th field = SQL:2016 occurrence argument / PREV offset
              case Array(nm, fl, sym, f, occ) => mk(nm, fl, sym, f, occ.toInt)
              case other => throw new IllegalArgumentException(
                s"bad histnav entry '$h' (want name:kind:SYM:col[:occ])")
            }
          }
      val out = mode.stripSuffix("_next") match {
        case "one" => graft.operators.PatternMatch.matchPattern(
          df, partCols, orderCols, symbols, str(exprs(4), "pattern"), measures,
          prePartitioned = pre, skip = skipSpec, navRefs = navRefs)
        case "all" => graft.operators.PatternMatch.matchPatternAllRows(
          df, partCols, orderCols, symbols, str(exprs(4), "pattern"), measures,
          prePartitioned = pre, skip = skipSpec, navRefs = navRefs)
        // round 10: the SQL:2016 ALL ROWS sub-modes
        case "all_show_empty" => graft.operators.PatternMatch.matchPatternAllRows(
          df, partCols, orderCols, symbols, str(exprs(4), "pattern"), measures,
          prePartitioned = pre, skip = skipSpec, navRefs = navRefs,
          emptyMatches = "show")
        case "all_unmatched" => graft.operators.PatternMatch.matchPatternAllRows(
          df, partCols, orderCols, symbols, str(exprs(4), "pattern"), measures,
          prePartitioned = pre, skip = skipSpec, navRefs = navRefs,
          unmatchedRows = true)
        case other => throw new IllegalArgumentException(
          s"graft_match_recognize mode must be 'one', 'all', 'all_show_empty', " +
            s"'all_unmatched', 'one_next' or 'all_next', got '$other'")
      }
      out.queryExecution.logical
    })

  /** Give `spark` every graft function its registries do not already
    * hold: a session built with [[graft.engine.GraftExtensions]] has
    * them all and is left untouched; any other session gets each one,
    * replacing a Spark built-in of the same name as the extension does. */
  def register(spark: SparkSession): Unit =
    registerInto(spark.sessionState.functionRegistry, spark.sessionState.tableFunctionRegistry)

  /** Both registries' side of [[register]]. A graft function is known
    * by its [[ExpressionInfo]] class name, "graft", which the extension
    * gives every function it injects. */
  private[graft] def registerInto(functions: FunctionRegistryBase[Expression],
                                  tables: FunctionRegistryBase[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = synchronized {
    def add[T](registry: FunctionRegistryBase[T], all: Seq[(String, Seq[Expression] => T)]): Unit =
      all.foreach { case (name, builder) =>
        val id = FunctionIdentifier(name)
        if (!registry.lookupFunction(id).exists(_.getClassName == GraftInfoClass))
          registry.registerFunction(id, new ExpressionInfo(GraftInfoClass, name), builder)
      }
    add(functions, injections)
    add(tables, tableInjections)
  }

  /** The class name of every graft function's [[ExpressionInfo]]. */
  val GraftInfoClass = "graft"

  private def unitOf(e: Expression): String = e match {
    case Literal(u, _) => String.valueOf(u).toUpperCase
    case other => throw new IllegalArgumentException(
      s"date_diff unit must be a string literal, got $other")
  }

  /** True if our functions are visible in this session. */
  def isRegistered(spark: SparkSession): Boolean =
    spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("approx_distinct"))
}
