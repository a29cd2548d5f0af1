package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.{cosine_sim, hamming64, rolling_hash64}

/** Specs for the LLM-pipeline operators: golden values for the
  * signature-based ops the DuckDB oracle can't express, plus recall
  * checks for the approximate paths against their exact twins.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.load(spark, sf, "documents")
  private def emb = Tables.load(spark, sf, "embeddings")

  // ------------------------------------------------------ custom exprs

  test("hamming64 matches Long.bitCount on xor") {
    val rows = Seq((0L, 0L), (1L, 0L), (-1L, 0L), (0x0f0fL, 0xf0f0L))
      .toDF("a", "b")
      .select(hamming64(col("a"), col("b")).as("h")).as[Int].collect()
    assert(rows.toSeq == Seq(0, 1, 64, 16))
  }

  test("rolling_hash64 is the 64-bit widening of String.hashCode recurrence") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
    val inputs = Seq("", "a", "abc", "the quick brown fox")
    val got = inputs.toDF("s").select(rolling_hash64(col("s")).as("h"))
      .as[Long].collect().toSeq
    assert(got == inputs.map(ref))
  }

  test("cosine_sim matches a reference implementation") {
    val a = Array(1.0f, 2.0f, 3.0f)
    val b = Array(-1.0f, 0.5f, 2.0f)
    val expected = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
             math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val got = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
      .select(cosine_sim(col("a").cast("array<float>"), col("b").cast("array<float>")))
      .as[Double].head()
    assert(math.abs(got - expected) < 1e-12)
    val zero = Seq((Seq(0f, 0f), Seq(1f, 1f))).toDF("a", "b")
      .select(cosine_sim(col("a"), col("b"))).as[Double].head()
    assert(zero == 0.0)
  }

  // ------------------------------------------------------ pii redaction

  test("redactPii scrubs email/ssn/phone/ip and piiCounts counts them") {
    val txt = "mail a.b+c@x.co.uk, ssn 123-45-6789, ph 555-123-4567, " +
      "host 192.168.0.1; clean text 12-34 stays"
    val row = Seq(txt).toDF("t")
      .select(TextAnalysis.redactPii(col("t")).as("r"),
        TextAnalysis.piiCounts(col("t")).as("c"))
      .select(col("r"), col("c.n_email"), col("c.n_ssn"),
        col("c.n_phone"), col("c.n_ip"))
      .as[(String, Int, Int, Int, Int)].head()
    assert(row._1 == "mail <EMAIL>, ssn <SSN>, ph <PHONE>, " +
      "host <IP>; clean text 12-34 stays")
    assert((row._2, row._3, row._4, row._5) == ((1, 1, 1, 1)))
  }

  test("redactPii is idempotent and never cross-matches categories") {
    val txt = "a@b.io 111-22-3333 444-555-6666 10.0.0.255"
    val once = Seq(txt).toDF("t")
      .select(TextAnalysis.redactPii(col("t")).as("r")).as[String].head()
    val twice = Seq(once).toDF("t")
      .select(TextAnalysis.redactPii(col("t")).as("r")).as[String].head()
    assert(once == "<EMAIL> <SSN> <PHONE> <IP>")
    assert(twice == once)
  }

  // ------------------------------------------------------------- dedup

  test("exact dedup: keeps min-id per normalized text, total preserved") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
    val nKept = kept.count()
    val nDistinct = docs.select(TextAnalysis.normalize(col("text"))).distinct().count()
    assert(nKept == nDistinct)
    // keeper is the smallest id of its group
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    val keepers = groups.select("keeper").as[Long].collect().toSet
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keepers.subsetOf(keptIds))
  }

  test("minhash LSH candidates achieve full recall on exact duplicates") {
    // identical texts must always share all bands
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactDupPairs = Dedup.exactGroups(docs, "doc_id", "text")
      .select(col("members")).as[Seq[Long]].collect()
      .flatMap(ms => for (a <- ms; b <- ms if a < b) yield (a, b)).toSet
    assert(exactDupPairs.subsetOf(pairs),
      s"missing ${exactDupPairs -- pairs}")
  }

  test("minhash jaccard estimates align with exact jaccard on candidates") {
    val small = docs.filter(col("doc_id") < 200)
    val viaLsh = Dedup.minhashPairs(small, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = Dedup.jaccardPairsExact(small, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // refine step computes *exact* jaccard, so values must agree where found
    viaLsh.foreach { case (k, v) => assert(exact.get(k).contains(v), s"pair $k") }
    // and LSH at threshold 0.5 with 16x4 bands should find nearly all
    assert(viaLsh.keySet.intersect(exact.keySet).size >= (exact.size * 0.9).toInt)
  }

  test("simhash of identical docs is identical; near-dups within distance") {
    val sigs = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dupGroups = Dedup.exactGroups(docs, "doc_id", "text")
      .select(col("members")).as[Seq[Long]].collect()
    dupGroups.foreach { ms =>
      val s0 = sigs(ms.head)
      ms.tail.foreach(m => assert(sigs(m) == s0))
    }
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
    assert(pairs.filter(col("hamming") > 3).count() == 0)
  }

  // -------------------------------------------------------- similarity

  test("LSH top-k recall vs brute force is reasonable at 8 bits") {
    val queries = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshTopK(emb, queries, k = 5, nBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // buckets at 8 bits over 500 vectors keep ≥ ~1/256 of corpus per
    // bucket; exact-duplicate vectors always collide, so recall is > 0
    // and every LSH hit must be a true corpus vector (sanity, not recall)
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (q, c) => q != c })
  }

  test("brute-force top-k is exact: matches a local computation") {
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.filter(_._1 < 3).toSeq.sortBy(_._1).flatMap { case (q, qv) =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (c, cv) => (c, cos(qv, cv)) }
        .sortBy { case (c, s) => (-s, c) }
        .take(5).zipWithIndex.map { case ((c, _), i) => (q, i + 1, c) }
    }.toSet
    val got = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("IVF top-k recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, nCells = 16, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // probing half the cells should recover well over half the true top-k
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall")
    assert(ivf.size == brute.size)
  }

  test("hamming banded candidates are COMPLETE for radius <= 3 (pigeonhole)") {
    // corpus = embeddings + a clone of each query (guarantees at least
    // one hamming-0 candidate per query); the op's result must equal a
    // local recompute that scans EVERY corpus vector within radius —
    // if banding dropped any in-radius candidate, a rank would differ
    val queries = emb.filter(col("vec_id") < 8)
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .union(queries.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        col("embedding")))
    val got = Similarity.hammingTopK(corpus, queries, k = 5, radius = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val sigs = corpus
      .select(col("vec_id"), graft.functions.sign_pack64(col("embedding")),
        col("embedding"))
      .as[(Long, Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = sigs.filter(_._1 < 8).flatMap { case (q, qs, qv) =>
      sigs.filter { case (c, cs, _) =>
        c != q && java.lang.Long.bitCount(qs ^ cs) <= 3 }
        .map { case (c, _, cv) => (c, cos(qv, cv)) }
        .sortBy { case (c, s) => (-s, c) }
        .take(5).zipWithIndex.map { case ((c, _), i) => (q, i + 1, c) }
    }.toSet
    assert(got == expected, s"got ${got.size} vs expected ${expected.size}")
    // every query found its clone at rank 1, hamming 0, cosine 1
    (0L until 8L).foreach { q =>
      assert(got.contains((q, 1, q + 1000000L)), s"clone missing for query $q")
    }
  }

  test("winnowing guarantee: a shared run of >= w+k-1 tokens shares a fingerprint") {
    // k=2, w=4: any (w+k-1)=5-token common run gives >= w common grams,
    // so one full winnow window lies inside the match on both sides.
    // The 6-token shared run sits at different offsets with different
    // contexts (6 > 5: strictly inside the guarantee).
    val docs = Seq(
      (1L, "p q r shared run of six common tokens x y z"),
      (2L, "a b c d e f shared run of six common tokens g h"))
      .toDF("doc_id", "text")
    val fp = Dedup.winnowedFingerprints(docs, "doc_id", "text", k = 2, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
    val h1 = fp.collect { case (1L, h) => h }.toSet
    val h2 = fp.collect { case (2L, h) => h }.toSet
    assert(h1.intersect(h2).nonEmpty,
      s"guaranteed shared fingerprint missing: $h1 vs $h2")
  }

  test("prefix-filtered Jaccard == brute force on random corpora") {
    for (seed <- Seq(31, 32)) {
      val rnd = new scala.util.Random(seed)
      val docs = Seq.tabulate(60) { i =>
        (i.toLong,
          Seq.fill(rnd.between(1, 25))(s"w${rnd.nextInt(8)}").mkString(" "))
      }.toDF("doc_id", "text")
      for (t <- Seq(0.3, 0.6, 0.9)) {
        val brute = Dedup.jaccardPairsExact(docs, "doc_id", "text", t)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
        val pf = Dedup.prefixFilteredJaccardPairs(docs, "doc_id", "text", t)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
        assert(pf == brute,
          s"seed=$seed t=$t: prefix filter must be COMPLETE and exact " +
            s"(missing ${brute -- pf}, extra ${pf -- brute})")
      }
    }
  }

  test("containment finds doc-in-doc pairs that Jaccard misses") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"), // 14 shingles (w=3)
      (2L, "a b c d e"),                       // 3 shingles, all inside doc 1
      (3L, "x y z w q r"))                     // disjoint
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set((1L, 2L)), s"got ${out.keySet}")
    val (cab, cba) = out((1L, 2L))
    assert(cba == 1.0, s"quote fully contained: $cba")
    assert(math.abs(cab - 0.214286) < 1e-9, s"asymmetric back-direction: $cab")
    // the same threshold through the symmetric Jaccard screen: nothing
    assert(Dedup.jaccardPairsExact(docs, "doc_id", "text", 0.9).isEmpty,
      "Jaccard at 0.9 must miss the quote relation containment catches")
  }

  test("video near-dup: clone J=1, tail-extension J=1/2, disjoint absent") {
    // 128 a's = two identical 64-byte frames = a ONE-hash signature set;
    // the tail-extended copy adds exactly one distinct frame (J = 1/2);
    // ids are all ≡ 2 (mod 3) so asMedia kinds them 'video'
    val docs = Seq(
      (2L, "a" * 128),
      (1000001L, "a" * 128),
      (5L, "a" * 128 + "tail bytes that differ"),
      (8L, "b" * 100))
      .toDF("doc_id", "text")
    val pairs = Multimodal.videoNearDupPairs(Multimodal.asMedia(docs),
        frameBytes = 64, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs == Map(
      (2L, 1000001L) -> 1.0,
      (2L, 5L) -> 0.5,
      (5L, 1000001L) -> 0.5), s"got $pairs")
  }

  test("IVF split index/search == one-shot ivfTopK (persisted-index path)") {
    val queries = emb.filter(col("vec_id") < 8)
    val oneShot = Similarity.ivfTopK(emb, queries, k = 5, nCells = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    // the production shape: centroids + index built once (round-tripped
    // through parquet like a persisted artifact), searched separately
    val centroids = Similarity.ivfCentroids(emb, nCells = 16)
    val dir = graft.TmpCleanup.tempDir("ivf_idx_")
    Similarity.ivfIndex(emb, centroids).write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val split = Similarity.ivfSearch(index, centroids, queries, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(split == oneShot)
  }

  test("int8 quantization: reconstruction and cosine error are small") {
    val q = Quantize.withQuantized(emb, "embedding")
    // reconstruction error bounded by scale/2 per component
    val err = q.select(
      aggregate(zip_with(col("embedding"), Quantize.dequantize(col("embedding_q8")),
        (a, b) => abs(a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, x) => greatest(acc, x)).as("max_err"),
      col("embedding_q8.scale").as("s"))
      .filter(col("max_err") > col("s") / 2 + 1e-9)
    assert(err.count() == 0)
    // quantized cosine approximates exact cosine
    val a = q.filter(col("vec_id") < 20).select(col("vec_id").as("ida"),
      col("embedding").as("ea"), col("embedding_q8").as("qa"))
    val b = q.filter(col("vec_id") >= 20 && col("vec_id") < 40)
      .select(col("vec_id").as("idb"), col("embedding").as("eb"),
        col("embedding_q8").as("qb"))
    val cmp = a.crossJoin(b).select(
      graft.functions.cosine_sim(col("ea"), col("eb")).as("exact"),
      Quantize.cosineQuantized(col("qa"), col("qb")).as("approx"))
    val maxDiff = cmp.select(max(abs(col("exact") - col("approx"))))
      .as[Double].head()
    assert(maxDiff < 0.02, s"quantized cosine error $maxDiff")
  }

  // ------------------------------------------------------- text + media

  test("language id returns a profile language or und, deterministically") {
    val preds = docs.select(TextAnalysis.languageId(col("text")).as("p"))
      .distinct().as[String].collect().toSet
    assert(preds.subsetOf(Set("en", "es", "fr", "de", "pt", "und")))
    val twice = TextAnalysis.annotate(docs, "text").select("lang_pred")
      .as[String].collect().toSeq
    val again = TextAnalysis.annotate(docs, "text").select("lang_pred")
      .as[String].collect().toSeq
    assert(twice == again)
  }

  test("multimodal features: digest/bytes/frames match payload") {
    val feats = Multimodal.extractFeatures(Multimodal.asMedia(docs.limit(10)))
      .collect()
    val texts = docs.limit(10).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    feats.foreach { f =>
      val payload = texts(f.media_id).getBytes("UTF-8")
      assert(f.n_bytes == payload.length)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(payload).map("%02x".format(_)).mkString
      assert(f.digest == md)
      assert(f.frames_sampled == 1 + payload.length / 1024)
    }
  }

  test("frame sampling: windows tile the payload, empty payload gets one frame") {
    import spark.implicits._
    val media = Seq(
      (1L, "video", ("ab" * 100).getBytes("UTF-8"), 10, 10, 0),   // 200 B
      (2L, "video", Array.emptyByteArray, 10, 10, 0))
      .toDF("media_id", "kind", "content", "width", "height", "sample_rate")
    val frames = Multimodal.sampleFrames(media, frameBytes = 64).collect()
    val f1 = frames.filter(_.media_id == 1L).sortBy(_.frame_idx)
    assert(f1.map(_.n_frame_bytes).toSeq == Seq(64, 64, 64, 8),
      "200 bytes at 64/frame -> 64+64+64+8")
    assert(f1.map(_.frame_idx).toSeq == Seq(0, 1, 2, 3))
    // all-identical windows share a digest; the tail differs
    assert(f1.take(3).map(_.frame_digest).distinct.length == 1)
    assert(f1(3).frame_digest != f1(0).frame_digest)
    val f2 = frames.filter(_.media_id == 2L)
    assert(f2.length == 1 && f2.head.n_frame_bytes == 0)
  }

  test("resize stub shrinks payload by stride and clamps metadata") {
    import spark.implicits._
    val media = Seq((1L, "image", (0 until 100).map(_.toByte).toArray, 640, 480, 0))
      .toDF("media_id", "kind", "content", "width", "height", "sample_rate")
    val out = Multimodal.resizeStub(media, targetW = 160, targetH = 120)
      .collect().head
    // stride = ceil(640/160) = 4: every 4th byte survives
    assert(out.getAs[Array[Byte]]("content").toSeq ==
      (0 until 100 by 4).map(_.toByte).toSeq)
    assert(out.getAs[Int]("width") == 160 && out.getAs[Int]("height") == 120)
  }

  test("incrementalDedup equals the plain anti-join, bloom only prunes") {
    import spark.implicits._
    // history of 200 texts; batch = 30 new + 20 exact re-crawls (new
    // ids, same text) + 5 near-misses (one char changed → must be kept)
    val hist = (0 until 200).map(i => (i.toLong, s"history doc body $i"))
      .toDF("doc_id", "text")
    val batch = (
      (1000 until 1030).map(i => (i.toLong, s"fresh doc body $i")) ++
      (2000 until 2020).map(i => (i.toLong, s"history doc body ${i - 2000}")) ++
      (3000 until 3005).map(i => (i.toLong, s"history doc body ${i - 3000}x")))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, hist, "text", 200L)
      .select("doc_id").as[Long].collect().sorted
    val expected = ((1000L until 1030L) ++ (3000L until 3005L)).toArray
    assert(kept.toSeq == expected.toSeq,
      s"must equal the exact anti-join: got ${kept.length} rows")
  }

  test("incrementalDedup bootstrap: empty history keeps the whole batch") {
    import spark.implicits._
    val batch = (1 to 20).map(i => (i.toLong, s"doc body $i")).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, batch.limit(0), "text", 100L)
    assert(kept.count() == 20, "a NULL bloom from zero history rows must pass everything")
  }

  test("incrementalDedupBloom2 equals the plain anti-join; missing index " +
      "buckets pass through (bootstrap)") {
    import spark.implicits._
    val hist = (0 until 200).map(i => (i.toLong, s"history doc body $i"))
      .toDF("doc_id", "text")
    val batch = (
      (1000 until 1030).map(i => (i.toLong, s"fresh doc body $i")) ++
      (2000 until 2020).map(i => (i.toLong, s"history doc body ${i - 2000}")) ++
      (3000 until 3005).map(i => (i.toLong, s"history doc body ${i - 3000}x")))
      .toDF("doc_id", "text")
    val index = Dedup.bloomIndex(hist, "text", buckets = 8, 200L)
    val kept = Dedup.incrementalDedupBloom2(batch, hist, index, "text", 8)
      .select("doc_id").as[Long].collect().sorted
    val expected = ((1000L until 1030L) ++ (3000L until 3005L)).toArray
    assert(kept.toSeq == expected.toSeq,
      s"must equal the exact anti-join: got ${kept.length} rows")
    // bootstrap: an EMPTY index (no bucket rows at all → null bf after
    // the left join → probe coalesces false) keeps the whole batch
    val kept0 = Dedup.incrementalDedupBloom2(batch, hist.limit(0),
      index.limit(0), "text", 8)
    assert(kept0.count() == batch.count(),
      "no index rows must mean no pruning and no verification drops")
  }

  test("operator-internal caches are released (CacheScope)") {
    // ops that persist intermediates must leave the CacheManager as
    // they found it: CacheScope materializes the small result and
    // unpersists before returning, so a long-lived session never
    // accumulates operator-private blocks across query entries
    val wasEmpty = spark.sharedState.cacheManager.isEmpty
    Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.9).count()
    Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3).count()
    PipelineOps.contamination(docs, n = 5, benchMod = 97L).count()
    KMeansOps.fit(emb, "vec_id", "embedding", k = 2, iters = 1).count()
    assert(!wasEmpty || spark.sharedState.cacheManager.isEmpty,
      "an operator left a persisted intermediate behind")
  }

  test("scriptMix counts each writing system independently") {
    import spark.implicits._
    val r = Seq(Tuple1("abc привет 你好 γ δ ع 한 ह 123!"))
      .toDF("t")
      .select(TextAnalysis.scriptMix(org.apache.spark.sql.functions.col("t")).as("s"))
      .select("s.*").head()
    val got = TextAnalysis.scriptRanges.map(_._1).zipWithIndex
      .map { case (n, i) => n -> r.getInt(i) }.toMap
    assert(got == Map("latin" -> 3, "cyrillic" -> 6, "greek" -> 2,
      "cjk" -> 2, "arabic" -> 1, "hangul" -> 1, "devanagari" -> 1),
      s"got $got")
  }

  test("nearDupAgainstIndex: clones of history drop, near-misses and new docs survive") {
    import spark.implicits._
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val empty = Dedup.shingleSets(b1.limit(0), "doc_id", "text")
    val emptyIdx = empty.select(col("id"),
      lit(0).cast("int").as("band"), lit(0L).as("bucket"))
    // bootstrap: empty history keeps everything
    val (s1, i1, set1) = Dedup.nearDupAgainstIndex(
      b1, "doc_id", "text", emptyIdx, empty, threshold = 0.995)
    assert(s1.count() == 2 && set1.count() == 2 && i1.count() == 32,
      "bootstrap batch survives whole; 16 bands per doc indexed")
    val hIdx = i1.localCheckpoint(); val hSets = set1.localCheckpoint()
    // round 2: a verbatim clone of doc 1 (J=1.0), a one-token
    // extension of doc 2 (J = 4/5 = 0.8 < 0.995), and a fresh doc
    val b2 = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "one two three four five six seven"),
      (12L, "completely different words here now")).toDF("doc_id", "text")
    val (s2, _, _) = Dedup.nearDupAgainstIndex(
      b2, "doc_id", "text", hIdx, hSets, threshold = 0.995)
    assert(s2.select("doc_id").as[Long].collect().toSet == Set(11L, 12L),
      "exact clone must drop; sub-threshold near-miss and new doc survive")
    // with a looser threshold the near-miss is a duplicate too
    val (s3, _, _) = Dedup.nearDupAgainstIndex(
      b2, "doc_id", "text", hIdx, hSets, threshold = 0.7)
    assert(s3.select("doc_id").as[Long].collect().toSet == Set(12L),
      "threshold governs the near-dup boundary")
  }

  test("readability: hand-computed Flesch from exact counts; " +
      "mark-free docs clamp to one sentence; empty docs drop") {
    // "The cat sat. The dog ran!": W=6, S=2 (". " and "!"),
    // Y=6 single-vowel runs -> 206.835 - 1.015*3 - 84.6*1 = 119.19.
    val docs = Seq(
      ("s1", "The cat sat. The dog ran!"),
      ("s2", "no marks here"),         // S clamps to 1; W=3, Y=4
      ("s2", "!!! ... ???"))           // zero words: dropped
      .toDF("source", "text")
    val got = TextAnalysis.readability(docs, "source", "text")
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    val f2 = BigDecimal(206.835 - 1.015 * 3.0 / 1.0 - 84.6 * 4.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq(("s1", 1L, 6L, 2L, 6L, 119.19),
      ("s2", 1L, 3L, 1L, 4L, f2)))
  }
}
