package graft

import graft.functions.Kernels
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for operators whose correctness is not obvious
  * from the oracle compare alone (SURVEY §5.3#2) — as-of ordering,
  * session gaps, top-k group bounds, similarity ordering.
  */
class OperatorSemanticsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("window_topk_per_group: at most 3 rows per customer, price descending") {
    val rows = SparkEntry.queries("window_topk_per_group")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (cust, rs) =>
      assert(rs.length <= 3, s"customer $cust has ${rs.length} rows")
      val byRn = rs.sortBy(_._2).map(_._3)
      assert(byRn.zip(byRn.tail).forall { case (a, b) => a >= b },
        s"customer $cust prices not descending: ${byRn.toSeq}")
    }
  }

  test("ml_eval_map matches a driver-side AP@10 recompute") {
    // independent reimplementation of the whole chain: 4 dp-rounded
    // kernel cosine ranking (ties by cid), label relevance, 6 dp
    // P@i terms, AP = Σ terms / min(10, total_rel), r4 — any drift in
    // the query's window/join plumbing breaks the exact compare
    def rk(x: Double, k: Int): Double = {
      val p = math.pow(10.0, k.toDouble); math.floor(x * p + 0.5) / p
    }
    val emb = Tables.embeddings(spark, sf).collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val byLabel = emb.groupBy(_._2).view.mapValues(_.length).toMap
    val expected = emb.filter(_._1 < 10).sortBy(_._1).map { case (qid, ql, qv) =>
      val top10 = emb.filter(_._1 != qid)
        .map { case (cid, cl, cv) =>
          (cid, cl, rk(Kernels.cosineArr(qv, cv), 4)) }
        .sortBy { case (cid, _, sim) => (-sim, cid) }.take(10)
      val rels = top10.map { case (_, cl, _) => if (cl == ql) 1 else 0 }
      val hits = rels.sum
      val terms = rels.zipWithIndex.collect { case (1, i) =>
        BigDecimal(rk(rels.take(i + 1).sum.toDouble / (i + 1).toDouble, 6)) }
      val totalRel = byLabel(ql) - 1
      val ap = if (hits > 0)
        rk(terms.sum.toDouble / math.min(10, totalRel).toDouble, 4) else 0.0
      (qid, hits.toLong, ap)
    }
    val got = SparkEntry.queries("ml_eval_map")(spark, sf).collect().map(r =>
      (r.getAs[Long]("qid"), r.getAs[Long]("hits"), r.getAs[Double]("ap_at_10")))
    assert(got.toSeq == expected.toSeq)
  }

  test("ml_eval_ece is consistent with the ml_calibration_bins table") {
    // ECE/MCE are pure functions of the (independently oracle-gated)
    // reliability-diagram bins — recompute both from that key's output
    def rk(x: Double, k: Int): Double = {
      val p = math.pow(10.0, k.toDouble); math.floor(x * p + 0.5) / p
    }
    val bins = SparkEntry.queries("ml_calibration_bins")(spark, sf).collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Double]("mean_score"),
        r.getAs[Double]("frac_pos")))
    val n = bins.map(_._1).sum
    val gaps = bins.map { case (_, ms, fp) => math.abs(ms - fp) }
    val ece = rk(bins.zip(gaps).map { case ((nb, _, _), g) =>
      BigDecimal(g).setScale(4, BigDecimal.RoundingMode.HALF_UP) * nb }
      .sum.toDouble / n.toDouble, 4)
    val mce = rk(gaps.max, 4)
    val got = SparkEntry.queries("ml_eval_ece")(spark, sf).collect()(0)
    assert(got.getAs[Long]("n") == n)
    assert(math.abs(got.getAs[Double]("ece") - ece) < 1e-9)
    assert(math.abs(got.getAs[Double]("mce") - mce) < 1e-9)
  }

  test("ml_eval_multiclass is consistent with the ml_infer_multiclass predictions") {
    def rk4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val labels = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label").toLong).toMap
    val preds = SparkEntry.queries("ml_infer_multiclass_udf")(spark, sf)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Number]("pred").longValue)
    val pairs = preds.map { case (id, p) => (labels(id), p) }
    val expected = (0L to 9L).map { c =>
      val nTrue = pairs.count(_._1 == c); val nPred = pairs.count(_._2 == c)
      val tp = pairs.count(p => p._1 == c && p._2 == c)
      (c, nTrue.toLong, nPred.toLong, tp.toLong,
        if (nPred > 0) rk4(tp.toDouble / nPred) else 0.0,
        if (nTrue > 0) rk4(tp.toDouble / nTrue) else 0.0,
        rk4(2.0 * tp / (nTrue + nPred).toDouble))
    }.filter(t => t._2 > 0 || t._3 > 0)
    val got = SparkEntry.queries("ml_eval_multiclass")(spark, sf).collect()
      .map(r => (r.getAs[Long]("class"), r.getAs[Long]("n_true"),
        r.getAs[Long]("n_pred"), r.getAs[Long]("tp"),
        r.getAs[Double]("precision"), r.getAs[Double]("recall"),
        r.getAs[Double]("f1")))
    assert(got.toSeq == expected.toSeq)
  }

  test("ml_eval_brier matches a driver-side exact-decimal recompute") {
    def rk4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val w = ml.MlOps.weightsK(0) // class-0 row IS the binary scorer's weights
    val rows = Tables.embeddings(spark, sf).collect().map { r =>
      val e = r.getAs[scala.collection.Seq[Float]]("embedding")
      var dot = 0.0; var i = 0
      while (i < e.length) { dot += e(i).toDouble * w(i); i += 1 }
      val s = BigDecimal(rk4(1.0 / (1.0 + math.exp(-dot))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
      (s, (r.getAs[Int]("label") % 2).toLong)
    }
    def mean(ts: Seq[BigDecimal], n: Int): Double = rk4(ts.sum.toDouble / n.toDouble)
    val e2 = rows.map { case (s, y) => val d = s - BigDecimal(y); (d * d, y) }
    val got = SparkEntry.queries("ml_eval_brier")(spark, sf).collect()(0)
    assert(got.getAs[Long]("n") == rows.length)
    assert(math.abs(got.getAs[Double]("brier") - mean(e2.map(_._1), rows.length)) < 1e-9)
    val pos = e2.filter(_._2 == 1L); val neg = e2.filter(_._2 == 0L)
    assert(math.abs(got.getAs[Double]("brier_pos") - mean(pos.map(_._1), pos.length)) < 1e-9)
    assert(math.abs(got.getAs[Double]("brier_neg") - mean(neg.map(_._1), neg.length)) < 1e-9)
  }

  test("ml_shap_linear matches a driver-side closed-form recompute") {
    def rk(x: Double, k: Int): Double = {
      val p = math.pow(10.0, k.toDouble); math.floor(x * p + 0.5) / p
    }
    def dec6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val w = ml.MlOps.weights
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    val n = vecs.length
    val expected = (0 until 64).map { i =>
      val xs = vecs.map(v => rk(v(i).toDouble, 6))
      val mu = rk(xs.map(dec6).sum.toDouble / n.toDouble, 6)
      val sabs = xs.map(x => dec6(math.abs(rk(w(i) * (x - mu), 6)))).sum
      (i.toLong, w(i), mu, n.toLong, rk(sabs.toDouble / n.toDouble, 4))
    }
    val got = SparkEntry.queries("ml_shap_linear")(spark, sf).collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Double]("weight"),
        r.getAs[Double]("mu"), r.getAs[Long]("n"),
        r.getAs[Double]("mean_abs_shap")))
    got.zip(expected).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._4 == e._4, s"$g vs $e")
      assert(math.abs(g._3 - e._3) < 1e-9 && math.abs(g._5 - e._5) < 1e-9,
        s"$g vs $e")
    }
  }

  test("text_bpe_merge_candidates matches a driver-side pair-count recompute") {
    val texts = Tables.documents(spark, sf).collect()
      .map(_.getAs[String]("text"))
    val wordFreq = texts.flatMap(_.split(" ", -1)).filter(_.length >= 2)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val pairCounts = new scala.collection.mutable.HashMap[String, Long]()
    wordFreq.foreach { case (w, f) =>
      (0 until w.length - 1).foreach { i =>
        val p = w.substring(i, i + 2)
        pairCounts(p) = pairCounts.getOrElse(p, 0L) + f
      }
    }
    val expected = pairCounts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = SparkEntry.queries("text_bpe_merge_candidates")(spark, sf)
      .collect().map(r => (r.getAs[String]("pair"), r.getAs[Long]("n"))).toSeq
    assert(got == expected)
  }

  /** From-scratch sequential BPE over the corpus - symbol vectors,
    * overlapping pair counts weighted by word frequency, argmax with
    * the (n DESC, a, b) tie rule, greedy left-to-right non-overlapping
    * merge apply; stops early when no adjacent pair remains. The
    * reference BOTH distributed trainers are compared against - any
    * divergence in the separator-string transport (shared boundary
    * separators, trailing separators, re-segmentation) shows up as a
    * different merge table. */
  private def sequentialBpe(rounds: Int): Seq[(Long, String, String, Long)] =
    sequentialBpeFull(rounds)._1

  /** [[sequentialBpe]] plus the FINAL per-word segmentation — the
    * reference for the encode (apply) key too. */
  private def sequentialBpeFull(rounds: Int)
      : (Seq[(Long, String, String, Long)], Map[String, Vector[String]]) = {
    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val texts = Tables.documents(spark, sf).collect()
      .map(_.getAs[String]("text"))
    var wordSyms: Map[Vector[String], Long] = texts.flatMap(_.split(" ", -1))
      .filter(w => w.length >= 2 && !w.contains(''))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .map { case (w, f) => w.map(_.toString).toVector -> f }
    val expected = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]()
      wordSyms.foreach { case (syms, f) =>
        if (syms.length >= 2)
          syms.iterator.zip(syms.iterator.drop(1)).foreach { p =>
            counts(p) = counts.getOrElse(p, 0L) + f
          }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), n) = counts.toSeq
          .sortBy { case ((x, y), c) => (-c, x, y) }.head
        expected += ((round.toLong, a, b, n))
        // merge apply preserves the concatenation invariant (symbols
        // always rejoin to the original word), so distinct words keep
        // distinct symbol vectors and the map keys never collide
        wordSyms = wordSyms.map { case (syms, f) => (applyMerge(syms, a, b), f) }
        round += 1
      }
    }
    // wordSyms keys are symbol vectors; re-key by the original word
    // (symbols always rejoin to it — the concatenation invariant)
    (expected.toSeq, wordSyms.map { case (syms, _) => syms.mkString -> syms })
  }

  test("text_bpe_encode: per-doc piece counts match the sequential reference encode") {
    val (_, segs) = sequentialBpeFull(3)
    val texts = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val expected = texts.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val pieces = toks.map { w =>
        if (w.length >= 2 && !w.contains('')) segs(w).length.toLong else 1L
      }.sum
      (id, toks.length.toLong, pieces)
    }.sortBy(_._1).toSeq
    val got = SparkEntry.queries("text_bpe_encode")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected,
      s"encode mismatch; first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("text_bpe_train_k matches a sequential driver-side BPE reimplementation") {
    // the ml_train_* posture: the distributed 3-round trainer vs the
    // from-scratch sequential reference
    val got = SparkEntry.queries("text_bpe_train_k")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val expected = sequentialBpe(3)
    assert(got == expected,
      s"distributed merges $got differ from the sequential reference $expected")
  }

  test("text_bpe_train_iter: 20 materialized-state rounds match the sequential reference and train_k's prefix") {
    // the DEEP trainer (loop-carried pinned state instead of an
    // unrolled expression tree) against the same sequential reference
    // at its full k=20 depth - and against the oracle-checked 3-round
    // key on their shared prefix, anchoring the iterated path to the
    // DuckDB-verified semantics too
    val got = SparkEntry.queries("text_bpe_train_iter")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val expected = sequentialBpe(20)
    assert(got.size == 20, s"expected 20 merge rounds, got ${got.size}")
    assert(got == expected,
      s"iterated merges $got differ from the sequential reference $expected")
    val k3 = SparkEntry.queries("text_bpe_train_k")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got.take(3) == k3,
      s"iterated trainer prefix ${got.take(3)} diverges from train_k $k3")
  }

  test("text_bpe_train_iter: driver fast path == distributed loop (r21)") {
    // the small-vocab decide-and-deliver path must be bit-identical to
    // the pinned-state loop it replaces below the vocab budget
    def run(): Seq[(Long, String, String, Long)] =
      SparkEntry.queries("text_bpe_train_iter")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    val localRows = run() // default posture: fast path
    val loopRows = TestSpark.withLoopPosture(run())
    assert(localRows == loopRows,
      s"fast path diverged from the loop:\nlocal=$localRows\nloop=$loopRows")
    assert(localRows.size == 20)
  }

  test("as-of joins: NULL timestamps match nothing in either direction") {
    val s = spark
    import s.implicits._
    def ts(sec: Int): java.sql.Timestamp = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, Option(ts(10)), 100L), (1L, Option.empty[java.sql.Timestamp], 101L))
      .toDF("k", "ts", "id")
    val right = Seq((1L, Option(ts(5))), (1L, Option(ts(20))),
      (1L, Option.empty[java.sql.Timestamp])).toDF("k", "ts")
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(2) -> Option(r.getTimestamp(3))).toMap
    val prior = got(graft.api.TimeSeriesOps.asofPrior(left, right, "k", "ts", "id"))
    val next = got(graft.api.TimeSeriesOps.asofNext(left, right, "k", "ts", "id"))
    assert(prior(100L) == Some(ts(5)) && next(100L) == Some(ts(20)))
    assert(prior(101L).isEmpty, "null-ts left row matched backward")
    assert(next(101L).isEmpty, "null-ts left row matched forward")
  }

  test("join_asof_forward: matched view is the true earliest at-or-after view") {
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
    val viewsByUser = ev.filter(_._3 == "view").groupBy(_._2)
    val dtf = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def f(t: java.sql.Timestamp): String =
      t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(dtf)
    val got = SparkEntry.queries("join_asof_forward")(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).toMap
    ev.filter(_._3 == "error").foreach { case (eid, uid, _, ets) =>
      val expected = viewsByUser.getOrElse(uid, Array.empty)
        .map(_._4).filter(!_.before(ets)) match {
        case a if a.isEmpty => None
        case a => Some(f(a.min))
      }
      assert(got(eid) == expected, s"error $eid: got ${got(eid)}, want $expected")
    }
  }

  test("join_asof: matched click is the true most recent prior click") {
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
    val clicksByUser = ev.filter(_._3 == "click").groupBy(_._2)
    // NB: SimpleDateFormat cannot format microseconds — use java.time
    val dtf = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def f(t: java.sql.Timestamp): String =
      t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(dtf)
    val got = SparkEntry.queries("join_asof")(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).toMap
    ev.filter(_._3 == "error").foreach { case (eid, uid, _, ets) =>
      val expected = clicksByUser.getOrElse(uid, Array.empty)
        .map(_._4).filter(!_.after(ets)) match {
        case a if a.isEmpty => None
        case a => Some(f(a.max))
      }
      assert(got(eid) == expected, s"error $eid: got ${got(eid)}, expected $expected")
    }
  }

  test("stream_session_windows: session starts are >30min apart per user and counts add up") {
    val sessions = SparkEntry.queries("stream_session_windows")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val total = sessions.map(_._3).sum
    assert(total == Tables.events(spark, sf).count(), "session counts must cover every event")
    val dtf = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    sessions.groupBy(_._1).foreach { case (uid, ss) =>
      val starts = ss.map(s => java.time.LocalDateTime.parse(s._2, dtf)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli).sorted
      starts.zip(starts.tail).foreach { case (a, b) =>
        assert(b - a > 30 * 60 * 1000L, s"user $uid: session starts closer than the gap: $a, $b")
      }
    }
  }

  test("dedup_near_jaccard: emitted pairs really have token-set jaccard >= 0.8") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = SparkEntry.queries("dedup_near_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    pairs.take(500).foreach { case (a, b, jac) =>
      val sa = texts(a).split(" ").distinct.sorted.toSeq
      val sb = texts(b).split(" ").distinct.sorted.toSeq
      val expected = Kernels.jaccardSets(sa, sb)
      assert(expected >= 0.8, s"pair ($a,$b) below threshold: $expected")
      assert(math.abs(jac - math.floor(expected * 10000 + 0.5) / 10000) < 1e-12)
    }
  }

  test("sim_knn_per_query: ranks 1..5 with non-increasing similarity") {
    val rows = SparkEntry.queries("sim_knn_per_query")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L), s"query $qid ranks")
      val sims = rs.sortBy(_._3).map(_._2)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, s"query $qid order")
    }
  }

  test("set_intersect is contained in both inputs; set_except is disjoint from the right") {
    val inter = SparkEntry.queries("set_intersect")(spark, sf).collect().map(_.getInt(0)).toSet
    val exc = SparkEntry.queries("set_except")(spark, sf).collect().map(_.getInt(0)).toSet
    val custNations = Tables.customer(spark, sf).select("c_nationkey")
      .distinct().collect().map(_.getInt(0)).toSet
    val suppNations = Tables.supplier(spark, sf).select("s_nationkey")
      .distinct().collect().map(_.getInt(0)).toSet
    assert(inter.subsetOf(custNations) && inter.subsetOf(suppNations))
    assert(exc.subsetOf(custNations) && exc.intersect(suppNations).isEmpty)
  }

  test("events_sessionize matches a sequential per-user recompute exactly") {
    val gap = 21600000000L
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val ev = Tables.events(spark, sf).select("user_id", "event_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), us(r.getTimestamp(2))))
    val expected = ev.groupBy(_._1).flatMap { case (uid, rows) =>
      val ts = rows.map(r => (r._3, r._2)).sorted.map(_._1)
      val sessions = ts.foldLeft(List.empty[List[Long]]) {
        case (acc, t) if acc.nonEmpty && t - acc.head.head <= gap =>
          (t :: acc.head) :: acc.tail
        case (acc, t) => List(t) :: acc
      }.reverse.map(_.reverse)
      sessions.zipWithIndex.map { case (s, i) =>
        (uid, (i + 1).toLong, s.length.toLong, s.head, s.last - s.head)
      }
    }.toSet
    val got = SparkEntry.queries("events_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected,
      s"sessionize mismatch: ${(got diff expected).take(3)} vs ${(expected diff got).take(3)}")
    assert(got.toSeq.map(_._3).sum == ev.length, "sessions must cover every event")
  }

  test("events_retention matches a recompute and offset 0 equals cohort size") {
    val days = Tables.events(spark, sf)
      .select("user_id", "ts").collect()
      .map { r =>
        val t = r.getTimestamp(1).toInstant
        (r.getLong(0), (t.getEpochSecond * 1000000L + t.getNano / 1000L) / 86400000000L)
      }.distinct
    val first = days.groupBy(_._1).map { case (u, d) => (u, d.map(_._2).min) }
    val expected = days.groupBy { case (u, d) => (first(u), d - first(u)) }
      .map { case (k, v) => (k._1, k._2, v.length.toLong) }.toSet
    val got = SparkEntry.queries("events_retention")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    val cohortSizes = first.values.groupBy(identity).map { case (d, us) => (d, us.size.toLong) }
    got.filter(_._2 == 0L).foreach { case (c, _, n) =>
      assert(n == cohortSizes(c), s"cohort $c offset-0 cell $n != cohort size ${cohortSizes(c)}")
    }
  }

  test("chunkFixed: chunks tile the document and the tail chunk is short") {
    val ss = spark
    import ss.implicits._
    val docs = Seq(
      1L -> (0 until 1).map("t" + _).mkString(" "),
      2L -> (0 until 48).map("t" + _).mkString(" "),
      3L -> (0 until 64).map("t" + _).mkString(" "),
      4L -> (0 until 65).map("t" + _).mkString(" "),
      5L -> (0 until 200).map("t" + _).mkString(" ")).toDF("doc_id", "text")
    val chunks = graft.api.TextAnalysis.chunkFixed(docs, "doc_id", "text", 64, 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    docs.collect().foreach { r =>
      val (id, toks) = (r.getLong(0), r.getString(1).split(" ", -1))
      val mine = chunks.filter(_._1 == id).sortBy(_._2)
      // chunking stops at the first chunk reaching the final token —
      // a doc of <= 64 tokens is exactly one chunk, never a redundant
      // tail that is a subset of its predecessor
      val expN = 1 + math.max(0, (toks.length - 64 + 47) / 48)
      assert(mine.length == expN, s"doc $id: ${mine.length} chunks, expected $expN")
      assert(mine.last._2 * 48 + 64 >= toks.length, s"doc $id: tail not covered")
      mine.foreach { case (_, ci, n, chunk) =>
        val exp = toks.slice(ci.toInt * 48, ci.toInt * 48 + 64)
        assert(n == exp.length && chunk == exp.mkString(" "), s"doc $id chunk $ci")
      }
      // strides tile: first 48 tokens of each chunk + full tail = the doc
      val rebuilt = mine.init.flatMap(_._4.split(" ", -1).take(48)) ++
        mine.last._4.split(" ", -1)
      assert(rebuilt.toSeq == toks.toSeq, s"doc $id does not rebuild")
    }
  }

  test("topNgrams: exact counts, tie order, and no grams from 1-token docs") {
    val ss = spark
    import ss.implicits._
    val docs = Seq("a b a b", "a b c", "solo", "c a b").toDF("text")
    val got = graft.api.TextAnalysis.topNgrams(docs, "text", 2, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // bigrams: "a b"×4, "b a"×1, "b c"×1, "c a"×1 — ties break on gram asc
    assert(got == Seq("a b" -> 4L, "b a" -> 1L, "b c" -> 1L, "c a" -> 1L))
  }

  test("agg_unpivot: one row per (status, metric), values match a wide recompute") {
    val got = SparkEntry.queries("agg_unpivot")(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    val orders = Tables.orders(spark, sf).select("o_orderstatus", "o_totalprice")
      .collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    orders.groupBy(_._1).foreach { case (st, rs) =>
      val sum = rs.map(_._2).sum.toDouble
      val n = rs.length.toDouble
      assert(got((st, "sum_price")) == sum, s"$st sum_price")
      assert(got((st, "n_orders")) == n, s"$st n_orders")
      assert(got((st, "avg_price")) == math.floor(sum / n * 10000 + 0.5) / 10000,
        s"$st avg_price")
    }
    assert(got.size == orders.map(_._1).distinct.length * 3)
  }

  test("weightedHashSample keeps exactly the rows whose digest-u is below the weight") {
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 6), 16).toDouble / 16777216.0
    }
    val expected = docs.filter { case (id, nc) => u(id) < math.min(1.0, nc / 400.0) }
      .map(_._1).toSet
    val got = SparkEntry.queries("data_sample_weighted")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(got == expected)
    assert(docs.filter(_._2 >= 400).map(_._1).toSet.subsetOf(got),
      "weight >= 1 rows must always be kept")
    assert(got.size < docs.length, "some short docs must be dropped")
  }

  test("events_top_paths matches a sequential recompute of path 3-gram counts") {
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), us(r.getTimestamp(2)), r.getString(3)))
    val counts = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ets = rows.map(r => ((r._3, r._2), r._4)).sortBy(_._1).map(_._2)
      ets.sliding(3).filter(_.length == 3).map(_.mkString(">"))
    }.groupBy(identity).map { case (p, v) => (p, v.size.toLong) }
    val top = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = SparkEntry.queries("events_top_paths")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == top, s"got $got, expected $top")
  }

  test("events_anomaly_zscore flags exactly the far-from-mean rows (banded)") {
    val ev = Tables.events(spark, sf).select("event_type", "event_id", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val stats = ev.groupBy(_._1).map { case (t, rs) =>
      val mu = rs.map(_._3).sum / rs.length
      val sd = math.sqrt(rs.map(v => (v._3 - mu) * (v._3 - mu)).sum / rs.length)
      (t, (mu, sd))
    }
    val got = SparkEntry.queries("events_anomaly_zscore")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getDouble(3))).toMap
    ev.foreach { case (t, id, v) =>
      val (mu, sd) = stats(t)
      val z = (v - mu) / sd
      // the query rounds z to 4dp before the cut; allow a band around
      // the threshold where either verdict is legitimate
      if (math.abs(z) >= 3.0001) assert(got.contains(id), s"event $id z=$z not flagged")
      if (math.abs(z) <= 2.9999) assert(!got.contains(id), s"event $id z=$z wrongly flagged")
      got.get(id).foreach(gz => assert(math.abs(gz - z) < 1e-3, s"event $id z mismatch"))
    }
  }

  test("agg_outlier_iqr flags exactly the outside-the-fence rows (banded)") {
    val events = Tables.events(spark, sf)
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def pct(sorted: Array[Double], p: Double): Double = {
      val idx = (sorted.length - 1) * p
      val lo = idx.toInt
      if (lo == sorted.length - 1) sorted(lo)
      else sorted(lo) + (idx - lo) * (sorted(lo + 1) - sorted(lo))
    }
    val fences = events.groupBy(_._1).map { case (st, rs) =>
      val v = rs.map(_._3).sorted
      val (q1, q3) = (pct(v, 0.25), pct(v, 0.75))
      (st, (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)))
    }
    val got = SparkEntry.queries("agg_outlier_iqr")(spark, sf).collect()
      .map(_.getLong(1)).toSet
    assert(got.nonEmpty, "the heavy-tailed value column must produce outliers")
    events.foreach { case (st, k, v) =>
      val (lo, hi) = fences(st)
      if (v < lo - 0.001 || v > hi + 0.001) assert(got(k), s"event $k ($v) not flagged")
      if (v > lo + 0.001 && v < hi - 0.001) assert(!got(k), s"event $k ($v) wrongly flagged")
    }
  }

  test("groupCap keeps exactly the n smallest-digest rows per group") {
    def hex(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf).select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.groupBy(_._2).values.flatMap { rs =>
      rs.sortBy(r => (hex(r._1), r._1)).take(50).map(_._1).toSeq
    }.toSet
    val got = SparkEntry.queries("data_sample_group_topn")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(got == expected)
    assert(docs.filter(d => got(d._1)).groupBy(_._2).values.forall(_.length <= 50))
  }

  test("ml_eval_auc equals the pairwise Mann-Whitney statistic on binned scores") {
    val r = SparkEntry.queries("ml_eval_auc")(spark, sf).collect().head
    val (auc, nPos, nNeg) = (r.getDouble(0), r.getLong(1), r.getLong(2))
    val rows = Tables.embeddings(spark, sf).select("embedding", "label").collect()
      .map { row =>
        val e = row.getSeq[Float](0)
        val dot = e.zip(graft.ml.MlOps.weights).map { case (x, w) => x.toDouble * w }.sum
        val s = math.floor((1.0 / (1.0 + math.exp(-dot))) * 10000 + 0.5) / 10000
        (s, row.getInt(1) % 2)
      }
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1)
    var wins = 0.0
    for (ps <- pos; ns <- neg)
      wins += (if (ps > ns) 1.0 else if (ps == ns) 0.5 else 0.0)
    val expected = math.floor(wins / (pos.length.toDouble * neg.length) * 10000 + 0.5) / 10000
    assert(nPos == pos.length && nNeg == neg.length)
    assert(math.abs(auc - expected) < 1e-9, s"auc $auc vs pairwise $expected")
  }

  test("levenshteinPairs matches a sequential recompute within prefix blocks") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = d(0); d(0) = i
        for (j <- 1 to b.length) {
          val cur = d(j)
          d(j) = math.min(math.min(d(j) + 1, d(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(b.length)
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val blocks = docs.groupBy(d => d._2.split(" ", -1).take(4).mkString(" "))
    val expected = blocks.values.flatMap { ds =>
      for {
        (i1, t1) <- ds.toSeq; (i2, t2) <- ds.toSeq if i1 < i2
        dist = lev(t1, t2) if dist <= 50
      } yield (i1, i2, dist.toLong)
    }.toSet
    val got = SparkEntry.queries("dedup_fuzzy_levenshtein")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"missing ${(expected diff got).take(3)}, extra ${(got diff expected).take(3)}")
  }

  test("events_active_users matches a recomputed DAU/WAU table") {
    val userDays = Tables.events(spark, sf).select("user_id", "ts").collect()
      .map { r =>
        val t = r.getTimestamp(1).toInstant
        (r.getLong(0), Math.floorDiv(t.getEpochSecond * 1000000L + t.getNano / 1000L,
          86400000000L))
      }.distinct
    val dau = userDays.groupBy(_._2).map { case (d, us) => (d, us.length.toLong) }
    val wau = userDays.flatMap { case (u, d) => (d to d + 6).map(rd => (u, rd)) }
      .distinct.groupBy(_._2).map { case (d, us) => (d, us.length.toLong) }
    val expected = dau.map { case (d, n) => (d, n, wau(d)) }.toSet
    val got = SparkEntry.queries("events_active_users")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("text_keywords_topk: at most 3 keywords per doc, weight descending") {
    val rows = SparkEntry.queries("text_keywords_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      assert(rs.length <= 3 && rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq)
      val ws = rs.sortBy(_._3).map(_._2)
      assert(ws.zip(ws.tail).forall { case (a, b) => a >= b }, s"doc $doc weights")
    }
  }

  test("events_streaks matches a sequential gaps-and-islands recompute") {
    val userDays = Tables.events(spark, sf).select("user_id", "ts").collect()
      .map { r =>
        val t = r.getTimestamp(1).toInstant
        (r.getLong(0), Math.floorDiv(t.getEpochSecond * 1000000L + t.getNano / 1000L,
          86400000000L))
      }.distinct
    val expected = userDays.groupBy(_._1).map { case (u, ds) =>
      val sorted = ds.map(_._2).distinct.sorted
      val runs = sorted.foldLeft(List.empty[(Long, Long)]) {
        case (acc, d) if acc.nonEmpty && d == acc.head._1 + acc.head._2 =>
          (acc.head._1, acc.head._2 + 1) :: acc.tail
        case (acc, d) => (d, 1L) :: acc
      }
      (u, runs.map(_._2).max, runs.length.toLong, runs.map(_._1).min)
    }.toSet
    val got = SparkEntry.queries("events_streaks")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"missing ${(expected diff got).take(3)}, extra ${(got diff expected).take(3)}")
  }

  test("agg_share_of_total: shares are positive and sum to ~1") {
    val rows = SparkEntry.queries("agg_share_of_total")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.forall { case (_, rev, share) => rev > 0 && share > 0 && share < 1 })
    val total = rows.map(_._3).sum
    assert(math.abs(total - 1.0) < 1e-3, s"shares sum to $total")
  }

  test("pipeline_end_to_end: no bench docs, no duplicate texts, shards start at 0") {
    def hex1(id: Long): Char = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.charAt(0)
    val out = SparkEntry.queries("pipeline_end_to_end")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    assert(out.forall(o => hex1(o._1) >= '2'), "bench docs must not survive")
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val survivors = out.map(o => texts(o._1))
    assert(survivors.distinct.length == survivors.length,
      "exact duplicates must not survive")
    out.groupBy(_._2).foreach { case (lang, rs) =>
      assert(rs.map(_._4).min == 0L, s"lang $lang shards must start at 0")
    }
  }

  test("intervalJoinBucketed equals the naive theta join and avoids BNLJ/cartesian") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), unix_micros(col("ts")).as("vus"))
    val errs = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"),
        (unix_micros(col("ts")) - 60000000L).as("lo"),
        (unix_micros(col("ts")) + 60000000L).as("hi"))
    val bucketed = graft.api.TimeSeriesOps.intervalJoinBucketed(views, errs,
      "vus", "lo", "hi", 60000000L)
    val got = bucketed.select("view_id", "err_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = views.join(errs, col("vus") >= col("lo") && col("vus") <= col("hi"))
      .select("view_id", "err_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive,
      s"missing ${(naive diff got).take(3)}, extra ${(got diff naive).take(3)}")
    val p = bucketed.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bucketed interval join must be an equi-join on the bin:\n$p")
  }

  test("stopwordPrune: counts reconcile and no stopword survives") {
    val pruned = SparkEntry.queries("text_stopword_prune")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val sw = Set("scan", "column", "window")
    pruned.foreach { case (id, nTok, nKept, out) =>
      val toks = texts(id).split(" ", -1)
      assert(nTok == toks.length)
      assert(out == toks.filterNot(sw).mkString(" "), s"doc $id pruned text")
      assert(nKept == toks.count(!sw(_)))
    }
  }

  test("piiScrub: typed masks, pattern precedence, and negative spans") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      // email whose local part is all digits must NOT leak as an id run
      (1L, "mail 123456789@host.example.org end",
        "mail <EMAIL> end", 1L, 0L, 0L, 1L),
      // phone groups (3-3-4 digits) must not be eaten by the id-run pass
      (2L, "call 415-555-0100 now", "call <PHONE> now", 0L, 1L, 0L, 0L),
      // IPv4 octets redact as one <IP>, not four digit fragments
      (3L, "host 192.168.100.200 up", "host <IP> up", 0L, 0L, 1L, 0L),
      // bare long digit run
      (4L, "acct 004412345678 ok", "acct <ID> ok", 0L, 0L, 0L, 1L),
      // NEGATIVES: short digit runs, version strings, and digits glued
      // to letters (no \b boundary) all survive untouched
      (5L, "v1.2.3 build 12345678 rev abc1234567890",
        "v1.2.3 build 12345678 rev abc1234567890", 0L, 0L, 0L, 0L),
      (6L, "all four a1@b.io 212-555-0199 10.0.0.1 999999999 here",
        "all four <EMAIL> <PHONE> <IP> <ID> here", 1L, 1L, 1L, 1L))
    val got = graft.api.TextAnalysis
      .piiScrub(cases.toDF("id", "text", "want", "e", "p", "i", "d"), "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    cases.foreach { case (id, _, want, e, p, i, d) =>
      assert(got(id) == ((want, e, p, i, d)), s"case $id: got ${got(id)}")
    }
  }

  test("ewmaSmooth: constant series is a fixed point; a spike decays by the 0.7 ratio") {
    val s = spark
    import s.implicits._
    def t(i: Int) = new java.sql.Timestamp(1700000000000L + i * 300000L)
    // series A: constant 5 → ewma stays exactly 5 at every bin;
    // series B: one spike of 100 at bin 3 over zeros → from bin 4 on,
    // consecutive ewmas decay by exactly 7/10 while the spike is the
    // only nonzero in-window value (weights renormalize identically)
    val grid = ((0 to 11).map(i => ("A", t(i), 5L)) ++
      (0 to 11).map(i => ("B", t(i), if (i == 3) 100L else 0L)))
      .toDF("k", "bin", "n")
    val got = graft.api.TimeSeriesOps.ewmaSmooth(grid, "k", "bin", "n", 300)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        (r.getDouble(2), r.getLong(3))).toMap
    (0 to 11).foreach { i =>
      assert(got(("A", t(i).getTime)) == ((5.0, 5L)), s"A bin $i: ${got(("A", t(i).getTime))}")
    }
    val bEwma = (4 to 11).map(i => got(("B", t(i).getTime))._1)
    bEwma.zip(bEwma.tail).foreach { case (prev, next) =>
      // exact 0.7 ratio up to the weight renormalization: both bins'
      // windows still start at bin 0 (i <= 11), so denominators grow —
      // compare the RATIO of spike weights instead: w_{k+1}/w_k = 0.7
      // exactly after multiplying back each bin's denominator
      assert(prev > next && next > 0, s"spike not decaying: $prev -> $next")
    }
    assert(got(("B", t(2).getTime))._1 == 0.0, "ewma nonzero before the spike")
    assert(got(("B", t(3).getTime))._1 > got(("B", t(4).getTime))._1)
  }

  test("entropyByGroup: 0 for a pure group, ln k for a uniform k-way mix") {
    val s = spark
    import s.implicits._
    val df = (Seq.fill(10)((1L, "a")) ++                      // pure: H = 0
      Seq("a", "b", "c", "d").flatMap(c => Seq.fill(5)((2L, c))) // uniform 4-way
      ).toDF("u", "c")
    val got = graft.api.StatsOps.entropyByGroup(df, "u", "c")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((10L, 0.0)))
    assert(got(2L)._1 == 20L)
    assert(math.abs(got(2L)._2 - math.log(4.0)) < 1e-3, s"uniform-4 entropy ${got(2L)._2}")
  }

  test("bigramLogProb: structured repetition outscores word salad over the same unigrams") {
    val s = spark
    import s.implicits._
    // both docs use the same 2 tokens with the same unigram profile;
    // doc 1 repeats one transition (high bigram counts), doc 2
    // alternates against the corpus grain
    val structured = Seq.fill(20)("x y").mkString(" ")
    val df = Seq((1L, structured), (2L, structured), (3L, "y x " * 10 + "x y")).toDF("id", "text")
    val got = graft.api.TextAnalysis.bigramLogProb(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // docs 1 and 2 are identical → identical scores; doc 3 runs against
    // the dominant transition direction and must score lower
    assert(got(1L) == got(2L))
    assert(got(3L) < got(1L), s"salad ${got(3L)} should score below structured ${got(1L)}")
  }

  test("dupSpanMask: shared spans masked in every occurrence, unique text kept, short docs inert") {
    val s = spark
    import s.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // 10-token shared region
    val docs = Seq(
      (1L, s"u1 u2 u3 $boiler t1 t2"),   // boilerplate mid-doc
      (2L, s"$boiler v1 v2 v3 v4 v5"),   // boilerplate at head
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),// fully unique, ≥8 tokens
      (4L, "x1 x2 x3"),                  // shorter than a gram: inert
      // self-repetition inside ONE doc must also mask (count ≥ 2 is
      // corpus-wide occurrences, not distinct docs)
      (5L, s"p1 p2 $boiler q1 q2")       // boiler occurs 3rd time here
    ).toDF("id", "text")
    val got = graft.api.TextAnalysis.dupSpanMask(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // every b-token is covered by a duplicated 8-gram in all three
    // occurrences; neighbors stay: the masked region is exactly the
    // 10 boilerplate tokens
    assert(got(1L) == ((15L, 10L, "u1 u2 u3 t1 t2")), s"doc1: ${got(1L)}")
    assert(got(2L) == ((15L, 10L, "v1 v2 v3 v4 v5")), s"doc2: ${got(2L)}")
    assert(got(3L) == ((9L, 0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")))
    assert(got(4L) == ((3L, 0L, "x1 x2 x3")))
    assert(got(5L) == ((14L, 10L, "p1 p2 q1 q2")), s"doc5: ${got(5L)}")
  }

  test("bloomSemiJoin: identical answer to the plain semi-join; false positives exist and are removed") {
    val s = spark
    import s.implicits._
    // dim = 200 member keys; fact probes 20x that range, so at fpp=0.2
    // the bloom WILL pass non-members — the exact join must strip them
    val dim = (0L until 1000L by 5).toDF("k")
    val fact = (0L until 4000L).map(i => (i, i % 7)).toDF("k", "v")
    val viaBloom = graft.api.SkewJoins.bloomSemiJoin(fact, dim, "k", "k", fpp = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val plain = fact.join(dim, Seq("k"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaBloom.sameElements(plain),
      s"bloom path diverged: ${viaBloom.length} vs ${plain.length} rows")
    // the pre-filter alone: every member passes (no false negatives),
    // and at this fpp some non-members pass too (the filter is real,
    // not a pass-through or an exact set)
    val bloom = dim.stat.bloomFilter("k", 200, 0.2)
    val passed = (0L until 4000L).count(bloom.mightContainLong)
    assert(passed >= 800, s"bloom dropped members: only $passed passed")
    assert((0L until 1000L by 5).forall(bloom.mightContainLong),
      "bloom false negative — breaks the exactness contract")
    assert(passed < 4000, "bloom passed everything — no pruning happened")
  }

  test("upsertMerge: keep/update/insert semantics and fail-loud schema mismatch") {
    val s = spark
    import s.implicits._
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val upd = Seq((2L, "b2", 21.0), (9L, "new", 90.0)).toDF("k", "name", "v")
    val got = graft.api.Maintenance.upsertMerge(snap, upd, "k")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getString(3))).toMap
    assert(got(1L) == (("a", 10.0, "keep")))
    assert(got(2L) == (("b2", 21.0, "update")))
    assert(got(3L) == (("c", 30.0, "keep")))
    assert(got(9L) == (("new", 90.0, "insert")))
    assert(got.size == 4)
    val bad = Seq((1L, "x")).toDF("k", "name")
    val e = intercept[IllegalArgumentException] {
      graft.api.Maintenance.upsertMerge(snap, bad, "k")
    }
    assert(e.getMessage.contains("must match"))
    // whole-row take: an update row's NULL cell is a real write that
    // CLEARS the field — per-column coalesce would silently resurrect
    // the snapshot value and diverge from upsertMergeLatest
    val nullUpd = Seq((2L, Option.empty[String], Option(22.0))).toDF("k", "name", "v")
    val cleared = graft.api.Maintenance.upsertMerge(snap, nullUpd, "k")
      .filter(org.apache.spark.sql.functions.col("k") === 2L).collect()(0)
    assert(cleared.isNullAt(1) && cleared.getDouble(2) == 22.0
      && cleared.getString(3) == "update",
      s"NULL update cell did not clear the field: $cleared")
  }

  test("upsertMergeLatest: version wins over arrival order; ties go to the update") {
    val s = spark
    import s.implicits._
    val snap = Seq((1L, "new", 5L), (2L, "old", 1L), (3L, "only", 7L))
      .toDF("k", "v", "ver")
    val upd = Seq((1L, "stale", 3L),  // older version must NOT overwrite
      (2L, "fresh", 9L),              // newer version must overwrite
      (3L, "tie", 7L),                // equal version: update wins
      (4L, "ins", 2L)                 // new key: insert
    ).toDF("k", "v", "ver")
    val got = graft.api.Maintenance.upsertMergeLatest(snap, upd, "k", "ver")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) == (("new", 5L)))
    assert(got(2L) == (("fresh", 9L)))
    assert(got(3L) == (("tie", 7L)))
    assert(got(4L) == (("ins", 2L)))
    assert(got.size == 4)
  }

  test("upsertMergeLatest: NULL versions lose to non-NULL; both-NULL ties go to the update") {
    val s = spark
    import s.implicits._
    val snap = Seq((1L, "sv", Option(5L)), (2L, "sn", Option.empty[Long]),
      (3L, "sn2", Option.empty[Long])).toDF("k", "v", "ver")
    val upd = Seq((1L, "un", Option.empty[Long]),  // NULL update ver loses to 5
      (2L, "uv", Option(1L)),                      // non-NULL beats NULL snapshot
      (3L, "un2", Option.empty[Long])              // both NULL: tie → update
    ).toDF("k", "v", "ver")
    val got = graft.api.Maintenance.upsertMergeLatest(snap, upd, "k", "ver")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "sv", s"NULL update version must lose: $got")
    assert(got(2L) == "uv", s"non-NULL update must beat NULL snapshot: $got")
    assert(got(3L) == "un2", s"both-NULL tie must go to the update: $got")
  }

  test("upsertMerge: spark.graft.merge.checkKeys=true fails loudly on duplicate keys") {
    val s = spark
    import s.implicits._
    val snap = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val dup = Seq((2L, "x"), (2L, "y")).toDF("k", "v")
    s.conf.set("spark.graft.merge.checkKeys", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.api.Maintenance.upsertMerge(snap, dup, "k")
      }
      assert(e.getMessage.contains("duplicate"), e.getMessage)
      // unique keys pass the gate and merge normally
      val ok = graft.api.Maintenance.upsertMerge(snap,
        Seq((2L, "x")).toDF("k", "v"), "k")
      assert(ok.count() == 2)
    } finally s.conf.set("spark.graft.merge.checkKeys", "false")
  }

  test("corrMatrixExact: parity with built-in corr, and exact ±1 on linear columns") {
    val s = spark
    import s.implicits._
    // derived columns with known correlations: y = 2x (corr 1), z = -x
    // (corr -1), at 2dp so the decimal casts are lossless
    val df = (1 to 500).map(i => (i.toDouble, 2.0 * i, -i.toDouble))
      .toDF("x", "y", "z")
    val m = graft.api.StatsOps.corrMatrixExact(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("x", "y")) == 1.0 && m(("x", "z")) == -1.0 && m(("y", "z")) == -1.0)
    // fixture parity: the exact-decimal closed form agrees with the
    // built-in co-moment corr to well past the 4dp emission grid
    val li = Tables.lineitem(spark, sf)
    val want = li.select(org.apache.spark.sql.functions.corr("l_quantity", "l_extendedprice"))
      .collect()(0).getDouble(0)
    val got = graft.api.StatsOps.corrMatrixExact(li,
        Seq("l_quantity", "l_extendedprice"))
      .collect()(0).getDouble(2)
    assert(math.abs(got - want) < 1e-4, s"corr drifted: got $got want $want")
  }

  test("markovTransitions: exact counts on a known sequence; rows normalize per prev state") {
    val s = spark
    import s.implicits._
    def t(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // user 1: a→b→a→b ; user 2: a→b ; transitions: a→b ×3, b→a ×1
    val ev = Seq((1L, "a", t(1), 1L), (1L, "b", t(2), 2L), (1L, "a", t(3), 3L),
      (1L, "b", t(4), 4L), (2L, "a", t(1), 5L), (2L, "b", t(2), 6L))
      .toDF("u", "e", "ts", "id")
    val got = graft.api.TimeSeriesOps.markovTransitions(ev, "u", "e", "ts", "id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("a", "b")) == ((3L, 1.0)))
    assert(got(("b", "a")) == ((1L, 1.0)))
    assert(got.size == 2)
    // fixture-level: probabilities over each prev row-normalize to 1
    val fix = graft.api.TimeSeriesOps.markovTransitions(
        Tables.events(spark, sf), "user_id", "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    fix.groupBy(_._1).foreach { case (prev, rs) =>
      val tot = rs.map(_._2).sum
      assert(math.abs(tot - 1.0) < 1e-3, s"P(·|$prev) sums to $tot")
    }
  }

  test("snapshotDiff: added/removed/changed classified, unchanged omitted, NULL-safe compare") {
    val s = spark
    import s.implicits._
    val old = Seq((1L, Option("a")), (2L, Option("b")), (3L, Option("c")),
      (4L, Option.empty[String])).toDF("k", "v")
    val neu = Seq((1L, Option("a")),       // unchanged → omitted
      (2L, Option("B")),                   // changed
      (4L, Option.empty[String]),          // NULL == NULL → unchanged
      (5L, Option("e"))                    // added
    ).toDF("k", "v")                       // 3L missing → removed
    val got = graft.api.Maintenance.snapshotDiff(old, neu, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 5L -> "added"), got.toString)
  }

  test("asofNearest: picks the closer side, ties go to prior, one-sided falls through") {
    val s = spark
    import s.implicits._
    def t(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    val right = Seq((1L, t(0)), (1L, t(1000))).toDF("u", "ts")
    val left = Seq((1L, t(200), 10L),  // 200 vs 800 → prior t(0)
      (1L, t(900), 11L),               // 900 vs 100 → next t(1000)
      (1L, t(500), 12L),               // tie 500/500 → prior t(0)
      (1L, t(5000), 13L),              // after all rights → prior t(1000)
      (2L, t(0), 14L)                  // key with no rights → NULL
    ).toDF("u", "ts", "id")
    val got = graft.api.TimeSeriesOps
      .asofNearest(left, right, "u", "ts", "id")
      .collect().map(r => r.getLong(2) ->
        (Option(r.getTimestamp(3)).map(_.getTime), Option(r.getString(4)))).toMap
    assert(got(10L) == ((Some(1700000000000L), Some("prior"))), got(10L).toString)
    assert(got(11L) == ((Some(1700000001000L), Some("next"))), got(11L).toString)
    assert(got(12L) == ((Some(1700000000000L), Some("prior"))), got(12L).toString)
    assert(got(13L) == ((Some(1700000001000L), Some("prior"))), got(13L).toString)
    assert(got(14L) == ((None, None)), got(14L).toString)
  }

  test("weightedPercentilesBinned: uniform weights = lower quantile; heavy weight drags the cut") {
    val s = spark
    import s.implicits._
    // uniform weight 1 over values 1..4: cuts at p50 → v where cum≥2
    val uni = Seq((1, 1L), (2, 1L), (3, 1L), (4, 1L)).map { case (v, w) => ("g", v.toDouble, w) }
      .toDF("g", "v", "w")
    val gotU = graft.api.StatsOps.weightedPercentilesBinned(uni, "g", "v", "w",
      Seq("p50" -> 0.5)).collect()(0).getDouble(1)
    assert(gotU == 2.0, s"uniform p50 = $gotU")
    // 97% of the weight on value 1 → every quartile is 1
    val heavy = Seq(("g", 1.0, 97L), ("g", 2.0, 1L), ("g", 3.0, 1L), ("g", 4.0, 1L))
      .toDF("g", "v", "w")
    val gotH = graft.api.StatsOps.weightedPercentilesBinned(heavy, "g", "v", "w",
      Seq("p25" -> 0.25, "p75" -> 0.75)).collect()(0)
    assert(gotH.getDouble(1) == 1.0 && gotH.getDouble(2) == 1.0, gotH.toString)
  }

  test("crossCorrelation: a shifted copy peaks at exactly its lag with corr 1") {
    val s = spark
    import s.implicits._
    def t(i: Int) = new java.sql.Timestamp(1700000000000L + i * 300000L)
    // x = varying series; y = the SAME series shifted 2 bins later →
    // corr(x_t, y_{t+2}) = 1 exactly, off-peak lags below 1
    val xs = Seq(5, 1, 9, 2, 7, 3, 8, 4, 6, 2, 9, 1)
    val ev = xs.zipWithIndex.flatMap { case (n, i) =>
      Seq.fill(n)(("x", t(i))) ++ Seq.fill(n)(("y", t(i + 2)))
    }.toDF("et", "ts")
    val got = graft.api.TimeSeriesOps
      .crossCorrelation(ev, "ts", "et", "x", "y", 300, maxLag = 3)
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(got(2L).contains(1.0), s"peak lag: ${got(2L)}")
    got.filter(_._1 != 2L).foreach { case (k, v) =>
      v.foreach(c => assert(c < 1.0, s"lag $k corr $c should be < 1"))
    }
  }

  test("cooccurrencePmi: counts and margins on a pinned tiny corpus") {
    val s = spark
    import s.implicits._
    // "a b a b a b": k=1 pairs (a,b)×3 (b,a)×2; k=2 pairs (a,a)×2
    // (b,b)×2 — 9 pairs per doc, ×5 docs to clear minCount
    val df = Seq.fill(5)("a b a b a b").toDF("text")
    val got = graft.api.TextAnalysis.cooccurrencePmi(df, "text",
        window = 2, minCount = 5L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("a", "b"))._1 == 15L, got.toString)
    assert(got(("b", "a"))._1 == 10L, got.toString)
    assert(got(("a", "a"))._1 == 10L, got.toString)
    assert(got(("b", "b"))._1 == 10L, got.toString)
    // margins: cl(a)=15+10=25, cr(b)=15+10=25, N=45 → pmi(a,b)
    val want = math.floor(math.log(15.0 * 45 / (25.0 * 25)) * 1e4 + 0.5) / 1e4
    assert(got(("a", "b"))._2 == want, s"pmi ${got(("a", "b"))._2} vs $want")
  }

  test("scd2History: a NULL first state opens the history, not a dropped run") {
    val s = spark
    import s.implicits._
    def t(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    val log = Seq((1L, Option.empty[String], t(0), 1L),
      (1L, Option("A"), t(1), 2L),
      (2L, Option.empty[String], t(0), 3L)   // only row is NULL-state
    ).toDF("u", "st", "ts", "id")
    val got = graft.api.Maintenance.scd2History(log, "u", "st", "ts", "id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.getTimestamp(3)).isEmpty)).toSet
    assert(got == Set((1L, None, false), (1L, Some("A"), true), (2L, None, true)),
      got.toString)
  }

  test("linRegByGroup: NULL rows leave n as well as the sums") {
    val s = spark
    import s.implicits._
    // non-null points have zero x-variance; the NULL-x row must not
    // fake a nonzero denominator through an inflated n
    val df = Seq((Option(1.0), Option(2.0)), (Option(1.0), Option(4.0)),
      (Option.empty[Double], Option(9.0))).map { case (x, y) => ("g", x, y) }
      .toDF("g", "x", "y")
    val r = graft.api.StatsOps.linRegByGroup(df, "g", "x", "y").collect()(0)
    assert(r.getLong(1) == 2L, s"n must exclude NULL rows: $r")
    assert(r.isNullAt(2) && r.isNullAt(3), s"zero-variance must guard to NULL: $r")
  }

  test("crossCorrelation: an entirely absent series still emits every lag, xcorr NULL") {
    val s = spark
    import s.implicits._
    def t(i: Int) = new java.sql.Timestamp(1700000000000L + i * 300000L)
    val ev = (0 to 9).map(i => ("x", t(i))).toDF("et", "ts")  // no 'y' at all
    val got = graft.api.TimeSeriesOps
      .crossCorrelation(ev, "ts", "et", "x", "y", 300, maxLag = 3)
      .collect().map(r => r.getLong(0) -> r.isNullAt(2)).toMap
    assert(got.keySet == (-3L to 3L).toSet, s"lags: ${got.keySet}")
    assert(got.values.forall(identity), "constant-0 series must guard xcorr to NULL")
  }

  test("welchTTest: equal samples give t=0; a known shift gives the textbook stat") {
    val s = spark
    import s.implicits._
    val same = (1 to 20).flatMap(i => Seq(("a", i.toDouble), ("b", i.toDouble)))
    val r0 = graft.api.StatsOps.welchTTest(same.toDF("g", "v"), "g", "v", "a", "b")
      .collect()(0)
    assert(r0.getLong(2) == 20L && r0.getLong(3) == 20L)
    assert(r0.getDouble(4) == 0.0, s"identical samples must give t=0: $r0")
    // a = {1,2,3}, b = {4,5,6}: means 2/5, var 1 each, se²=2/3,
    // t = −3/√(2/3) = −3.6742, Welch df = (2/3)²/((1/3)²/2·2) = 4
    val ab = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val r1 = graft.api.StatsOps.welchTTest(ab, "g", "v", "a", "b").collect()(0)
    assert(math.abs(r1.getDouble(4) + 3.6742) < 1e-4, s"t: $r1")
    assert(r1.getDouble(5) == 4.0, s"df: $r1")
  }

  test("merge key gate rejects NULL keys, not just duplicates") {
    val s = spark
    import s.implicits._
    val snap = Seq((Option(1L), "a")).toDF("k", "v")
    val nullKeyed = Seq((Option.empty[Long], "x")).toDF("k", "v")
    s.conf.set("spark.graft.merge.checkKeys", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.api.Maintenance.upsertMerge(snap, nullKeyed, "k")
      }
      assert(e.getMessage.contains("NULL"), e.getMessage)
    } finally s.conf.set("spark.graft.merge.checkKeys", "false")
  }

  test("giniByGroup: 0 for an even split, (n-1)/n when one row holds everything") {
    val s = spark
    import s.implicits._
    val even = (1 to 50).map(_ => ("even", 4.0))
    val one = ("one", 100.0) +: (1 to 9).map(_ => ("one", 0.0))
    val got = graft.api.StatsOps.giniByGroup((even ++ one).toDF("g", "v"), "g", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("even") == ((50L, 0.0)), got("even").toString)
    assert(got("one") == ((10L, 0.9)), got("one").toString)
  }

  test("linRegByGroup: exact line recovered; zero-variance group guarded to NULL") {
    val s = spark
    import s.implicits._
    val line = (1 to 100).map(i => ("g", i.toDouble, 2.0 * i + 3.0))
    val flat = (1 to 10).map(_ => ("z", 5.0, 7.0))   // zero x-variance
    val got = graft.api.StatsOps.linRegByGroup(
        (line ++ flat).toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(got("g") == ((100L, Some(2.0), Some(3.0))), got("g").toString)
    assert(got("z") == ((10L, None, None)), got("z").toString)
  }

  test("scd2History: same-state runs collapse, intervals chain, current row open") {
    val s = spark
    import s.implicits._
    def t(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    val log = Seq(
      (1L, "A", t(0), 100L), (1L, "A", t(1), 101L),  // run collapses
      (1L, "B", t(2), 102L),
      (1L, "A", t(3), 103L),                         // state may recur
      (2L, "X", t(0), 104L)
    ).toDF("u", "st", "ts", "id")
    val got = graft.api.Maintenance.scd2History(log, "u", "st", "ts", "id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime,
        Option(r.getTimestamp(3)).map(_.getTime), r.getLong(4))).toSet
    val base = 1700000000000L
    assert(got == Set(
      (1L, "A", base, Some(base + 2000), 0L),
      (1L, "B", base + 2000, Some(base + 3000), 0L),
      (1L, "A", base + 3000, None, 1L),
      (2L, "X", base, None, 1L)), got.toString)
  }

  test("char explode: split(text,'') == per-index substr beyond the BMP (r22)") {
    // text_char_entropy's r21 rewrite swapped the O(len²) per-index
    // substr(text,i,1) transform for one split(text,'') pass. The two
    // are trivially equal on BMP text; this pins the SUPPLEMENTARY
    // plane too (emoji, CJK-B — a multilingual corpus has them): the
    // regex split must not cut surrogate pairs, length() must count
    // code points, and the per-(doc,char) cells must match exactly.
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a😀b😀"),            // a😀b😀 (U+1F600 ×2)
      (2L, "😀😁😀"),  // 😀😁😀 all-supplementary
      (3L, "中𪘥中 plain"),        // BMP CJK + CJK-ext-B U+2A6A5
      (4L, "mixed 🎉 txt")                 // 🎉 mid-ASCII
    ).toDF("doc_id", "text")
    val viaSplit = docs
      .select(col("doc_id"), length(col("text")).cast("long").as("_len"),
        explode(split(col("text"), "")).as("_ch"))
      .groupBy("doc_id", "_len", "_ch").agg(count(lit(1)).as("_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_.toString).toSeq
    val viaSubstr = docs
      .select(col("doc_id"), length(col("text")).cast("long").as("_len"),
        explode(expr("transform(sequence(1, length(text)), i -> substr(text, i, 1))")).as("_ch"))
      .groupBy("doc_id", "_len", "_ch").agg(count(lit(1)).as("_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_.toString).toSeq
    assert(viaSplit == viaSubstr,
      s"split('') diverged from per-index substr on non-BMP text\nsplit=$viaSplit\nsubstr=$viaSubstr")
    // and every emitted char is a WHOLE code point (no lone surrogates)
    viaSplit.foreach { case (_, _, ch, _) =>
      assert(!(ch.length == 1 && Character.isSurrogate(ch.charAt(0))),
        s"lone surrogate leaked from split: ${ch.codePoints.toArray.toSeq}")
    }
  }

  test("kmeansAssignUdf: matches a local argmin recompute on fixture vectors") {
    val e = Tables.embeddings(spark, sf).limit(50)
    val cents = graft.ml.MlOps.kmCents
    val got = e.select(org.apache.spark.sql.functions.col("vec_id"),
        graft.api.MlPipeline.kmeansAssignUdf(cents)(
          org.apache.spark.sql.functions.col("embedding")).as("a"))
      .collect().map(r => r.getLong(0) ->
        (r.getStruct(1).getInt(0), r.getStruct(1).getDouble(1))).toMap
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1)).toMap
    vecs.foreach { case (id, x) =>
      val ds = cents.map { c =>
        c.indices.map(i => { val d = x(i) - c(i); d * d }).sum
      }
      val best = ds.indexOf(ds.min)
      assert(got(id)._1 == best, s"vec $id: cell ${got(id)._1} vs $best")
      assert(math.abs(got(id)._2 - math.floor(ds.min * 1e6 + 0.5) / 1e6) < 1e-9)
    }
  }
}
