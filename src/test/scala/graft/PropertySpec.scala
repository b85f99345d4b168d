package graft

import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.TextFunctions._
import graft.ops.Windows

/** Property-based invariants (SURVEY.md §5 item 4) driven by
  * scalacheck generators over small random event sets.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), p)
    assert(res.passed, res.status.toString)
  }

  private val eventGen: Gen[List[(String, Timestamp)]] = for {
    n <- Gen.choose(1, 120)
    evs <- Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b", "c")
      sec <- Gen.choose(0L, 3600L)
      micro <- Gen.choose(0L, 999999L)
    } yield (k, new Timestamp(1704067200000L + sec * 1000 + micro / 1000)))
  } yield evs

  test("∀ events: per-key sum of tumbling window counts == per-key total") {
    check(Prop.forAll(eventGen) { evs =>
      val df = evs.toDF("k", "t")
      val windowed = Windows.tumblingCount(df, $"t", $"k", "1 minute")
        .groupBy("key").agg(sum("cnt").as("s"))
        .as[(String, Long)].collect().toMap
      val total = df.groupBy("k").count().as[(String, Long)].collect().toMap
      windowed == total
    })
  }

  test("∀ events: hopping with slide == size equals tumbling") {
    check(Prop.forAll(eventGen) { evs =>
      val df = evs.toDF("k", "t")
      val hop = Windows.hoppingCount(df, $"t", $"k", "1 minute", "1 minute")
        .drop("window_rowtime") // HOP_ROWTIME parity column; tumbling has none
      val tum = Windows.tumblingCount(df, $"t", $"k", "1 minute")
      hop.exceptAll(tum).isEmpty && tum.exceptAll(hop).isEmpty
    })
  }

  test("∀ events: every event's ts lies in [window_start, window_end) of its window") {
    check(Prop.forAll(eventGen) { evs =>
      val df = evs.toDF("k", "t")
      df.select($"k", $"t", window($"t", "1 minute").as("w"))
        .filter($"t" < $"w.start" || $"t" >= $"w.end")
        .isEmpty
    })
  }

  test("∀ events: trailing OVER count equals naive per-row recount") {
    check(Prop.forAll(eventGen) { evs =>
      val df = evs.toDF("k", "t")
      val got = Windows.slidingOverCount(df, $"t", $"k", 60L)
        .select($"k", $"t", $"trailing_cnt").as[(String, Timestamp, Long)]
        .collect().toSeq.sortBy(r => (r._1, r._2.getTime))
      // naive O(n²) recount with identical inclusive-frame semantics
      val want = evs.map { case (k, t) =>
        val cnt = evs.count { case (k2, t2) =>
          k2 == k && t2.getTime <= t.getTime && t2.getTime >= t.getTime - 60000L
        }
        (k, t, cnt.toLong)
      }.sortBy(r => (r._1, r._2.getTime))
      got == want
    })
  }

  test("∀ events: chunked sliding == OVER sliding for random chunk sizes") {
    check(Prop.forAll(eventGen, Gen.oneOf(60L, 120L, 300L)) { (evs, chunk) =>
      val df = evs.toDF("k", "t")
      val a = Windows.slidingOverCount(df, $"t", $"k", 60L)
        .select("k", "t", "trailing_cnt")
      val b = Windows.slidingCountChunked(df, $"t", $"k", 60L, chunk)
        .select("k", "t", "trailing_cnt")
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    })
  }

  test("∀ events: chunked lag == single-partition lag") {
    check(Prop.forAll(eventGen, Gen.oneOf(60L, 300L, 900L)) { (evs, chunk) =>
      val df = evs.toDF("k", "t")
      def key(r: (String, Timestamp, Option[Long])) = (r._1, r._2.getTime, r._3.getOrElse(-1L))
      val got = Windows.lagUsChunked(df, $"t", $"k", chunk)
        .select($"k", $"t", $"prev_us").as[(String, Timestamp, Option[Long])]
        .collect().toSeq.sortBy(key)
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"k").orderBy($"t")
      val want = df
        .withColumn("prev_us", lag(unix_micros($"t"), 1).over(w))
        .select($"k", $"t", $"prev_us").as[(String, Timestamp, Option[Long])]
        .collect().toSeq.sortBy(key)
      got == want
    })
  }

  test("∀ events (as docs): two-level simhash banding == naive all-pairs Hamming ≤ 3") {
    // small random corpora with repeated token pools → saturated
    // signature space, exercising both the same-signature and
    // cross-signature expansion paths
    val corpusGen = for {
      n <- Gen.choose(2, 25)
      docs <- Gen.listOfN(n, for {
        m <- Gen.choose(1, 6)
        ws <- Gen.listOfN(m, Gen.oneOf("spark", "join", "scan", "the", "agg"))
      } yield ws.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    check(Prop.forAll(corpusGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val sigs = df.select($"doc_id", simhash31($"text").as("sh"))
        .as[(Long, Long)].collect().toMap
      val want = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
      } yield (a, b, h.toLong)).toSet
      // run the registered query over a temp parquet dir (it loads
      // `documents` by name)
      val dir = java.nio.file.Files.createTempDirectory("graft_prop").toString
      df.withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.queries.DedupQueries.queries("dedup_simhash")(spark, dir)
        .as[(Long, Long, Long)].collect().toSet
      got == want
    })
  }

  test("∀ rows: ArgMax == naive max-by; null orderings ignored; null on empty group") {
    val gen = for {
      n <- Gen.choose(1, 80)
      rows <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b", "c")
        ord <- Gen.option(Gen.choose(-50L, 50L))
        v <- Gen.choose(0L, 9L)
      } yield (k, ord, v))
    } yield rows
    check(Prop.forAll(gen) { rows =>
      val df = rows.toDF("k", "ord", "v").repartition(4) // partial buffers + serialize + merge
      val got = df.groupBy($"k")
        .agg(graft.functions.ArgMax.argMax(
          $"v", when($"ord".isNotNull, struct($"ord", $"v"))).as("m"))
        .as[(String, Option[Long])].collect().toMap
      val want = rows.groupBy(_._1).map { case (k, rs) =>
        val defined = rs.collect { case (_, Some(o), v) => (o, v) }
        k -> (if (defined.isEmpty) None else Some(defined.max._2))
      }
      got == want
    })
  }

  test("∀ arrays: MaxRunLength(sorted) == naive modal frequency; 0 on empty") {
    val arrGen = for {
      n <- Gen.choose(0, 60)
      xs <- Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc", "d", "e f", ""))
    } yield xs
    check(Prop.forAll(Gen.listOfN(6, arrGen)) { arrays =>
      val df = arrays.toDF("xs")
      val got = df.select(
        graft.functions.KernelExpressions.maxRunLength(sort_array($"xs")).as("m"))
        .as[Long].collect().toSeq
      val want = arrays.map { xs =>
        if (xs.isEmpty) 0L else xs.groupBy(identity).values.map(_.size).max.toLong
      }
      got == want
    })
  }

  private val textGen: Gen[String] = for {
    n <- Gen.choose(1, 30)
    ws <- Gen.listOfN(n, Gen.oneOf("spark", "join", "scan", "the", "agg", "row", "key"))
  } yield ws.mkString(" ")

  test("∀ vectors: int8 quantization error ≤ scale/2 per element, no value escapes [-127, 127]") {
    val vecGen = for {
      n <- Gen.choose(1, 32)
      v <- Gen.listOfN(n, Gen.choose(-10.0, 10.0))
    } yield v
    check(Prop.forAll(vecGen) { v =>
      val maxAbs = v.map(math.abs).max
      if (maxAbs == 0.0) true
      else {
        val scale = maxAbs / 127.0
        val q = v.map(x => math.round(x / scale))
        q.forall(qi => math.abs(qi) <= 127) &&
          v.zip(q).forall { case (x, qi) =>
            math.abs(x - qi * scale) <= scale / 2 + 1e-12
          }
      }
    })
  }

  test("∀ events: funnel stage counts are monotonically non-increasing") {
    val funnelGen = for {
      n <- Gen.choose(1, 80)
      evs <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 8L)
        tpe <- Gen.oneOf("view", "click", "purchase")
        sec <- Gen.choose(0L, 3600L)
      } yield (u, tpe, new Timestamp(1704067200000L + sec * 1000)))
    } yield evs
    check(Prop.forAll(funnelGen) { evs =>
      // replicate q_funnel_stages' chained conditional-min semantics
      val byUser = evs.groupBy(_._1)
      def minAfter(u: Long, tpe: String, after: Long): Option[Long] = {
        val ts = byUser.getOrElse(u, Nil)
          .collect { case (_, t, x) if t == tpe && x.getTime > after => x.getTime }
        if (ts.isEmpty) None else Some(ts.min)
      }
      val t1 = byUser.keys.map(u => u -> minAfter(u, "view", Long.MinValue)).toMap
      val t2 = t1.collect { case (u, Some(t)) => u -> minAfter(u, "click", t) }
      val t3 = t2.collect { case (u, Some(t)) => u -> minAfter(u, "purchase", t) }
      val (n1, n2, n3) =
        (t1.count(_._2.isDefined), t2.count(_._2.isDefined), t3.count(_._2.isDefined))
      val df = evs.toDF("user_id", "event_type", "t")
        .withColumnRenamed("t", "ts")
      val Array(row) = {
        val e = df.select($"user_id", $"event_type", $"ts")
        val f1 = e.filter($"event_type" === "view").groupBy("user_id").agg(min($"ts").as("t1"))
        val f2 = e.filter($"event_type" === "click").join(f1, "user_id")
          .filter($"ts" > $"t1").groupBy("user_id").agg(min($"ts").as("t2"))
        val f3 = e.filter($"event_type" === "purchase").join(f2, "user_id")
          .filter($"ts" > $"t2").groupBy("user_id").agg(min($"ts").as("t3"))
        f1.agg(count(lit(1)).as("n_view"))
          .crossJoin(f2.agg(count(lit(1)).as("n_click_after")))
          .crossJoin(f3.agg(count(lit(1)).as("n_purchase_after")))
          .as[(Long, Long, Long)].collect()
      }
      row == ((n1.toLong, n2.toLong, n3.toLong)) &&
        row._1 >= row._2 && row._2 >= row._3
    })
  }

  test("∀ corpora: capped LSH candidates ⊆ uncapped, equal below cap, anchors keep every co-bucketed doc paired") {
    import graft.queries.DedupQueries
    import graft.functions.KernelExpressions
    val corpusGen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(2, 50)
      templates <- Gen.listOfN(n, Gen.choose(0, 4))
    } yield templates.zipWithIndex.map { case (t, i) =>
      (i.toLong, s"template$t alpha beta gamma delta epsilon zeta eta theta")
    }
    check(Prop.forAll(corpusGen) { docs =>
      val sh = docs.toDF("doc_id", "text").select($"doc_id",
        KernelExpressions.sortedNgramSet(tokens($"text"), 3).as("g"))
      val unc = DedupQueries.lshCandidates(sh, cap = Int.MaxValue)
        .as[(Long, Long)].collect().toSet
      val tight = DedupQueries.lshCandidates(sh, cap = 3)
        .as[(Long, Long)].collect().toSet
      val loose = DedupQueries.lshCandidates(sh, cap = 1024)
        .as[(Long, Long)].collect().toSet
      // capping only removes pairs, a cap above every bucket occupancy
      // is the identity, and every doc that co-occupies any bucket
      // still pairs with that bucket's anchors
      tight.subsetOf(unc) && loose == unc &&
        tight.flatMap(p => Set(p._1, p._2)) == unc.flatMap(p => Set(p._1, p._2))
    })
  }

  test("∀ name sets: gram-prefix fuzzy join == brute-force levenshtein ≤ 2") {
    // the recall-lossless claim of q_fuzzy_join's candidate generation
    // (5-rarest-gram prefix ∪ short-name block), proven in general over
    // a 3-letter alphabet where near pairs and gram collisions are dense
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val nameGen: Gen[List[String]] = for {
      n <- Gen.choose(2, 25)
      names <- Gen.listOfN(n, for {
        len <- Gen.choose(1, 9)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString)
    } yield names.distinct
    check(Prop.forAll(nameGen) { names =>
      val got = graft.queries.RelationalQueries
        .fuzzyNameMatches(names.toDF("name"))
        .select("name_a", "name_b").as[(String, String)].collect().toSet
      val want = (for {
        a <- names; b <- names if a < b && lev(a, b) <= 2
      } yield (a, b)).toSet
      got == want
    })
  }

  test("∀ texts: jaccard(shingles(x), shingles(x)) == 1 for docs with ≥3 tokens") {
    check(Prop.forAll(Gen.listOfN(5, textGen)) { texts =>
      val df = texts.toDF("text")
        .select(shingleSet($"text", 3).as("g"))
        .filter(size($"g") > 0)
      df.select(jaccard($"g", $"g").as("j")).as[Double].collect().forall(_ == 1.0)
    })
  }

  test("∀ texts: minhash similarity of identical shingle sets is exactly 1") {
    check(Prop.forAll(textGen) { text =>
      val df = Seq(text).toDF("text")
        .select(shingleSet($"text", 3).as("g"))
        .select(minhashSignature($"g").as("s1"), minhashSignature($"g").as("s2"))
      df.select(zip_with($"s1", $"s2", (a, b) => (a === b).cast("int")).as("eq"))
        .select(aggregate($"eq", lit(0), _ + _).as("n")).as[Int]
        .collect().forall(_ == 64)
    })
  }

  // the text_bpe_encode ORACLE's central claim, proven in general, not
  // just on the fixture corpus: over a chr(2)‖tok‖chr(3)-encoded token
  // stream, one leftmost-first non-overlapping string replace of the
  // encoded pair IS the greedy carry-fold BPE merge — for any token
  // stream and any merge sequence (including pairs absent from the
  // stream, self-pairs like (x,x), and merges whose halves were
  // produced by earlier merges).
  test("∀ token streams, merge tables: delimiter-encoded replace chain == greedy BPE fold") {
    val tokGen = Gen.oneOf("x", "y", "zz", "x y") // 'x y' can't occur raw (tokens are space-free) but stresses collisions
    val streamGen = for {
      n <- Gen.choose(1, 24)
      toks <- Gen.listOfN(n, Gen.oneOf("x", "y", "zz", "w"))
      m <- Gen.choose(1, 4)
      merges <- Gen.listOfN(m, for {
        a <- tokGen; b <- tokGen
      } yield s"$a $b")
    } yield (toks, merges)
    def fold(toks: Seq[String], pair: String): Seq[String] = {
      val Array(a, b) = pair.split(" ", 2)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var carry: String = null
      toks.foreach { t =>
        if (carry == null) carry = t
        else if (carry == a && t == b) { out += pair; carry = null }
        else { out += carry; carry = t }
      }
      if (carry != null) out += carry
      out.toSeq
    }
    def replayViaReplace(toks: Seq[String], merges: Seq[String]): Seq[String] = {
      val enc = merges.foldLeft(toks.map(t => s"\u0002$t\u0003").mkString) { (s, pair) =>
        val Array(a, b) = pair.split(" ", 2)
        s.replace(s"\u0002$a\u0003\u0002$b\u0003", s"\u0002$pair\u0003")
      }
      if (enc.isEmpty) Seq("")
      else enc.stripPrefix("\u0002").stripSuffix("\u0003").split("\u0003\u0002", -1).toSeq
    }
    check(Prop.forAll(streamGen) { case (toks, merges) =>
      val expected = merges.foldLeft(toks: Seq[String])(fold)
      replayViaReplace(toks, merges) == expected
    })
  }

  test("∀ corpora: exact-substring spans == brute-force maximal duplicated spans") {
    // small alphabet forces duplicated grams; docs long enough for
    // 8-gram spans to exist
    val corpusGen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(2, 8)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(4, 40)
        toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
      } yield toks.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
    val L = graft.queries.DedupQueries.ExactSubstrL
    def brute(docs: List[(Long, String)]): Set[(Long, Long, Long, Long)] = {
      val grams = docs.flatMap { case (id, t) =>
        val tk = t.split(" ")
        (1 to tk.length - L + 1).map(o => (tk.slice(o - 1, o - 1 + L).mkString(" "), id, o))
      }
      val dup = grams.groupBy(_._1).filter(_._2.size > 1).keySet
      docs.flatMap { case (id, t) =>
        val tk = t.split(" ")
        val hits = (1 to tk.length - L + 1)
          .filter(o => dup.contains(tk.slice(o - 1, o - 1 + L).mkString(" ")))
        hits.foldLeft(List.empty[(Long, Long)]) { (acc, o) =>
          acc match {
            case (s, e) :: tail if o <= e => (s, math.max(e, o + L)) :: tail
            case _                        => (o.toLong, (o + L).toLong) :: acc
          }
        }.reverse.map { case (s, e) => (id, s, e, e - s) }
      }.toSet
    }
    check(Prop.forAll(corpusGen) { docs =>
      val dir = java.nio.file.Files.createTempDirectory("graft_exsub_prop").toString
      docs.toDF("doc_id", "text")
        .withColumn("n_chars", length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.queries.DedupQueries.queries("dedup_exact_substring")(spark, dir)
        .as[(Long, Long, Long, Long)].collect().toSet
      got == brute(docs)
    })
  }

  test("∀ corpora: global-order SNM pairs == reference sliding window over the total sort") {
    val corpusGen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(2, 15)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(1, 10)
        toks <- Gen.listOfN(len, Gen.oneOf("aa", "ab", "ba", "bb", "cc"))
      } yield toks.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
    val w = graft.queries.DedupQueries.SnmWindow
    def brute(docs: List[(Long, String)]): Set[(Long, Long)] = {
      def key2(tk: Array[String]) = tk.take(2).mkString(" ")
      val keyed = docs.flatMap { case (id, t) =>
        val tk = t.split(" ")
        Seq(("head", key2(tk), id, t.length.toLong),
          ("tail", key2(tk.reverse), id, t.length.toLong))
      }
      val sorted = keyed.sortBy { case (p, k, id, n) => (p, k, n, id) }
      sorted.zipWithIndex.flatMap { case ((p1, _, id1, _), i) =>
        sorted.slice(i + 1, i + w).collect {
          case (p2, _, id2, _) if p1 == p2 =>
            (math.min(id1, id2), math.max(id1, id2))
        }
      }.toSet
    }
    check(Prop.forAll(corpusGen) { docs =>
      val df = docs.map { case (id, t) => (id, t, t.length.toLong) }
        .toDF("doc_id", "text", "n_chars")
      val got = graft.queries.DedupQueries.snmGlobalCandidates(df)
        .as[(Long, Long)].collect().toSet
      got == brute(docs)
    })
  }

  test("∀ corpora: reservoir cap keeps EXACTLY the k affine-hash-smallest docs per source") {
    val k = 4
    val rowGen = for {
      src <- Gen.oneOf("s0", "s1", "s2")
      chars <- Gen.choose(1L, 500L)
    } yield (src, chars)
    check(Prop.forAll(Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, rowGen))) { rows =>
      // distinct doc_ids; hash is an injective affine permutation of id
      val docs = rows.zipWithIndex.map { case ((src, chars), i) =>
        (src, i.toLong * 7L + 3L, chars) // non-contiguous ids
      }
      val df = docs.toDF("source", "doc_id", "n_chars")
      val got = graft.queries.PipelineQueries.reservoirCap(df, k)
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val expect = docs.groupBy(_._1).map { case (src, ds) =>
        val kept = ds.sortBy(d => (d._2 * 2654435761L + 104729L) % 2147483647L).take(k)
        src -> ((ds.size.toLong, kept.size.toLong, kept.map(_._3).sum))
      }
      got == expect
    })
  }

  test("∀ fact tables: skew report == brute-force census (cardinality, max share, hot keys)") {
    val rowGen = for {
      // skewed key draw: small domain with a hot head
      k1 <- Gen.frequency(5 -> Gen.const(1L), 1 -> Gen.choose(1L, 20L))
      k2 <- Gen.choose(1L, 5L)
    } yield (k1, k2)
    check(Prop.forAll(Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, rowGen))) { rows =>
      val df = rows.toDF("ka", "kb")
      val got = graft.queries.RelationalQueries.skewReport(df, Seq("ka", "kb"))
        .as[(String, Long, Long, Long, Double, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
      // Spark's Round(double) goes through BigDecimal.valueOf (the
      // toString form) — mirror that, not the exact-binary constructor
      def rnd6(x: Double) = BigDecimal(x.toString).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val expect = Seq("ka" -> rows.map(_._1), "kb" -> rows.map(_._2)).map {
        case (name, keys) =>
          val c = keys.groupBy(identity).map { case (_, l) => l.size.toLong }
          val total = keys.size.toLong
          val hot = c.filter(_ * c.size > total * 10)
          name -> ((c.size.toLong, total, c.max, rnd6(c.max.toDouble / total),
            hot.size.toLong, rnd6(hot.sum.toDouble / total)))
      }.toMap
      got == expect
    })
  }

  test("∀ corpora: RAKE top-20 == brute-force phrase scoring (islands, deg/freq, fixed-point)") {
    val stop = Set("the", "and", "of", "to", "a", "in", "is", "it")
    val wordGen = Gen.oneOf(
      "the", "and", "of", "in", "cat", "dog", "fast", "car", "red", "blue", "sky", "run")
    val docGen = for {
      n <- Gen.choose(0, 30)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    check(Prop.forAll(Gen.choose(1, 8).flatMap(k => Gen.listOfN(k, docGen))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.queries.TextQueries.rakeKeywords(df)
        .as[(String, Long, Long)].collect().toList
      // brute force: maximal stopword-free runs per doc
      val phrases: List[List[String]] = texts.flatMap { t =>
        val runs = scala.collection.mutable.ListBuffer[List[String]]()
        var cur = List.empty[String]
        t.split(" ", -1).foreach { w =>
          if (stop(w)) { if (cur.nonEmpty) runs += cur.reverse; cur = Nil }
          else cur = w :: cur
        }
        if (cur.nonEmpty) runs += cur.reverse
        runs.toList
      }
      val freq = phrases.flatten.groupBy(identity).map { case (w, l) => (w, l.size.toLong) }
      val deg = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      phrases.foreach(p => p.foreach(w => deg(w) += (p.size - 1).toLong))
      val wscore = freq.map { case (w, f) => (w, ((deg(w) + f) * 1000000L) / f) }
      val expect = phrases.map(_.mkString(" ")).groupBy(identity)
        .map { case (p, l) =>
          (p, l.size.toLong, p.split(" ", -1).map(wscore).sum)
        }
        .toList.sortBy { case (p, _, s) => (-s, p) }.take(20)
      got == expect
    })
  }
  test("BPE training: 4 engine rounds == driver-side greedy reimplementation (sf0.001)") {
    val got = graft.queries.TextQueries.bpeTrain(spark, sf0001, rounds = 4)
      .as[(Long, String, Long)].collect().sortBy(_._1).toList
    val docs = graft.model.Tables.load(spark, sf0001, "documents")
      .select(split(col("text"), " ").as("toks")).as[Seq[String]].collect()
      .map(_.toList).toList
    var corpus = docs
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    for (r <- 1 to 4) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      corpus.foreach { ts =>
        ts.zip(ts.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + 1L)
      }
      if (counts.nonEmpty) {
        val ((a, b), f) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        want += ((r.toLong, a + " " + b, f))
        corpus = corpus.map { ts =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var carry: String = null
          ts.foreach { t =>
            if (carry == null) carry = t
            else if (carry == a && t == b) { out += (a + " " + b); carry = null }
            else { out += carry; carry = t }
          }
          if (carry != null) out += carry
          out.toList
        }
      }
    }
    assert(got == want.toList && got.size == 4)
  }

  test("∀ shingle corpora, τ ∈ {0.8, 0.9}: direct τ-prefix == rk-filter of the τ=0.7 index") {
    // The memo-sharing contract behind corpusPrefixIndex: every tighter-τ
    // caller (pair generator, τ-sweep, audit, cap census) filters the ONE
    // τ=0.7 index with prefixRkBound instead of rebuilding — valid only
    // while ppjoinPrefix and prefixAtTau evaluate the same rk inequality.
    import graft.queries.DedupQueries
    val corpusGen = for {
      n <- Gen.choose(2, 24)
      docs <- Gen.listOfN(n,
        Gen.nonEmptyListOf(Gen.choose(0, 40)).map(_.distinct.map(i => s"g$i")))
    } yield docs
    check(Prop.forAll(corpusGen) { docs =>
      val sh = docs.zipWithIndex
        .map { case (g, i) => (i.toLong, g) }.toDF("doc_id", "g")
      val base = DedupQueries.ppjoinPrefix(sh, 7, 10)
      Seq((8, 10), (9, 10)).forall { case (num, den) =>
        val direct = DedupQueries.ppjoinPrefix(sh, num, den)
          .collect().map(_.toSeq).toSet
        val filtered = base.filter(DedupQueries.prefixRkBound(num, den))
          .collect().map(_.toSeq).toSet
        direct == filtered
      }
    })
  }

}
