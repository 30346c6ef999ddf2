package graft

import graft.functions.TextFunctions
import graft.sources.Multimodal

class TextSpec extends SparkSpec {

  test("text stats ratios are consistent") {
    val rows = TextFunctions.textStats(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_tokens") > 0)
      val ratio = r.getAs[Double]("stopword_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(r.getAs[Int]("n_stopwords") <= r.getAs[Int]("n_tokens"))
    }
  }

  test("langid predicts a language for every doc") {
    val rows = TextFunctions.langId(spark, sf).collect()
    assert(rows.length == 500)
    val langs = rows.map(_.getAs[String]("pred_lang")).toSet
    assert(langs.subsetOf(Set("en", "de", "es", "fr", "und")))
  }

  test("fingerprints are deterministic across runs") {
    val a = TextFunctions.fingerprint(spark, sf).collect().map(_.toSeq)
    val b = TextFunctions.fingerprint(spark, sf).collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("repetition stats flag boilerplate and pass natural text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "buy now buy now buy now buy now buy now buy now"),
      (2L, "the quick brown fox jumps over the lazy sleeping dog"))
      .toDF("doc_id", "text")
    val rows = TextFunctions.textRepetition(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Boolean]("repetitive"),
      "pure boilerplate must be flagged")
    assert(!rows(2L).getAs[Boolean]("repetitive"),
      "natural text must pass")
    assert(rows(2L).getAs[Double]("dup_2gram_ratio") == 0.0)
    // ratios live in [0,1] over the real corpus
    val real = TextFunctions.textRepetition(spark, sf).collect()
    assert(real.length == 500)
    real.foreach { r =>
      for (c <- Seq("dup_2gram_ratio", "dup_3gram_ratio", "top_tok_ratio")) {
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c = $v out of range")
      }
    }
  }

  test("split assignment is deterministic and stable under corpus growth") {
    val full = operators.Curate.splitAssign(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(full.size == 500)
    // roughly 80/10/10 (md5 buckets; exact fractions are data-dependent)
    val train = full.values.count(_ == "train").toDouble / full.size
    assert(train > 0.65 && train < 0.92, s"train fraction $train")
    // the property that matters: a doc's split does not depend on what
    // else is in the corpus — recompute on a subset, assignments agree
    val sub = operators.Curate.splitAssign(spark, sf)
    val subset = sub.filter(sub("doc_id") < 100).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    subset.foreach { case (id, sp) => assert(full(id) == sp) }
  }

  test("sharded sequence packing equals the naive single-window form") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = operators.Curate.packSequences(spark, sf, cap = 512)
      .collect().map(_.toSeq).toSet
    // naive form: one global window per language (correct, unscalable)
    val nTok = size(TextFunctions.tokens(col("text")))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    val naive = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), nTok.as("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        expr("cum_before div 512").as("bin_id"),
        expr("CAST(cum_before % 512 AS INT)").as("bin_offset"))
      .collect().map(_.toSeq).toSet
    assert(got == naive)
    assert(got.nonEmpty)
    // packing invariants: offsets in [0, cap); bins monotone per lang
    got.foreach { r =>
      val off = r(4).asInstanceOf[Int]
      assert(off >= 0 && off < 512)
    }
  }

  test("pack_segments splits boundary-crossing docs; windows fill to cap") {
    val cap = 512
    val segs = operators.Curate.packSegments(spark, sf, cap = cap).collect()
    assert(segs.nonEmpty)
    // per doc: segment lengths sum to n_tokens, indices contiguous
    segs.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
      .foreach { case ((_, id), rs) =>
        val sorted = rs.sortBy(_.getAs[Int]("seg_idx"))
        assert(sorted.map(_.getAs[Int]("seg_len")).sum ==
          sorted.head.getAs[Int]("n_tokens"), s"doc $id lengths")
        assert(sorted.map(_.getAs[Int]("seg_idx")).toSeq ==
          sorted.indices.toSeq, s"doc $id seg indices")
        // only the first segment starts mid-window; followers start at 0
        sorted.tail.foreach(r => assert(r.getAs[Int]("bin_offset") == 0))
        // seg_start is the doc-internal token offset: cumulative
        assert(sorted.map(_.getAs[Int]("seg_start")).toSeq ==
          sorted.scanLeft(0)((a, r) => a + r.getAs[Int]("seg_len")).init.toSeq)
      }
    // per (lang, bin): every window holds exactly cap tokens except
    // each language's tail window
    segs.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val byBin = rs.groupBy(_.getAs[Long]("bin_id"))
        .view.mapValues(_.map(_.getAs[Int]("seg_len")).sum).toMap
      val lastBin = byBin.keys.max
      byBin.foreach { case (bin, tot) =>
        if (bin != lastBin) assert(tot == cap, s"$lang bin $bin holds $tot")
        else assert(tot <= cap)
      }
      // bins are dense 0..lastBin
      assert(byBin.keySet == (0L to lastBin).toSet)
    }
    // first segment of every doc agrees with pack_sequences' assignment
    val assign = operators.Curate.packSequences(spark, sf, cap = cap).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Long]("bin_id"), r.getAs[Int]("bin_offset"))).toMap
    segs.filter(_.getAs[Int]("seg_idx") == 0).foreach { r =>
      val k = (r.getAs[String]("lang"), r.getAs[Long]("doc_id"))
      assert(assign(k) == (r.getAs[Long]("bin_id"), r.getAs[Int]("bin_offset")))
    }
  }

  test("pack_bestfit: FFD invariants, truncation marking, beats naive-order packing") {
    import org.apache.spark.sql.functions._
    val cap = 64 // small cap so packing is non-trivial on ~30-token docs
    val rows = operators.Curate.packBestfit(
      Tables.documents(spark, sf), cap, 100).collect()
    assert(rows.nonEmpty)
    rows.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("shard")))
      .foreach { case ((lang, shard), rs) =>
        // capacity holds exactly per bin; offsets are the running fill
        rs.groupBy(_.getAs[Int]("bin")).foreach { case (bin, brs) =>
          val sorted = brs.sortBy(_.getAs[Int]("bin_offset"))
          var fill = 0
          sorted.foreach { r =>
            assert(r.getAs[Int]("bin_offset") == fill,
              s"$lang/$shard bin $bin offset gap")
            fill += r.getAs[Int]("packed")
          }
          assert(fill <= cap, s"$lang/$shard bin $bin overflows: $fill")
        }
        // bins dense 0..max; docs never split (one row per doc)
        val bins = rs.map(_.getAs[Int]("bin")).toSet
        assert(bins == (0 until bins.size).toSet)
        assert(rs.map(_.getAs[Long]("doc_id")).distinct.length == rs.length)
        // FFD bin count within the 11/9 OPT + 1 guarantee (OPT >=
        // ceil(total/cap) — the volume lower bound)
        val total = rs.map(_.getAs[Int]("packed").toLong).sum
        val optLb = (total + cap - 1) / cap
        assert(bins.size <= (11 * optLb) / 9 + 1,
          s"$lang/$shard FFD used ${bins.size} bins vs OPT >= $optLb")
      }
    // truncation: a doc longer than cap packs exactly cap and is marked
    val long = Tables.documents(spark, sf).limit(1)
      .select(lit("zz").as("lang"), lit(999L).as("doc_id"),
        concat_ws(" ", array((0 until 100).map(i => lit(s"w$i")): _*))
          .as("text"))
    val t = operators.Curate.packBestfit(long, cap, 100).collect()
    assert(t.length == 1 && t.head.getAs[Int]("n_tokens") == 100 &&
      t.head.getAs[Int]("packed") == cap)
    // FFD wastes no more padding than packing whole docs in id order
    // (the baseline a naive loader uses when it refuses to split docs)
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"),
        size(TextFunctions.tokens(col("text"))).as("n"))
      .filter(col("n") > 0).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id") / 100,
        r.getAs[Long]("doc_id"), r.getAs[Int]("n")))
    val naiveBins = docs.groupBy(t4 => (t4._1, t4._2)).map { case (_, ds) =>
      var fill = 0; var bins = 1
      ds.sortBy(_._3).foreach { case (_, _, _, n) =>
        val sz = math.min(n, cap)
        if (fill + sz > cap) { bins += 1; fill = sz } else fill += sz
      }
      bins
    }.sum
    val ffdBins = rows.groupBy(r =>
        (r.getAs[String]("lang"), r.getAs[Long]("shard")))
      .map(_._2.map(_.getAs[Int]("bin")).max + 1).sum
    assert(ffdBins <= naiveBins,
      s"FFD used $ffdBins bins, naive order $naiveBins")
  }

  test("redaction finds and masks the planted email+IP, leaves others alone") {
    val rows = TextFunctions.textRedact(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.size == 500)
    rows.foreach { case (id, r) =>
      if (id % 10 == 0) {
        assert(r.getAs[Int]("n_emails") == 1 && r.getAs[Int]("n_ips") == 1)
        val red = r.getAs[String]("redacted")
        assert(red.contains("<EMAIL>") && red.contains("<IP>"))
        assert(!red.contains("@example.com") && !red.contains("192.168."))
      } else {
        assert(r.getAs[Int]("n_emails") == 0 && r.getAs[Int]("n_ips") == 0)
      }
    }
  }

  test("multimodal features preserve payload size and metadata") {
    val rows = Multimodal.features(spark, sf).collect()
    assert(rows.length == 500)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // ASCII corpus: utf-8 byte length == char count
      assert(r.getAs[Int]("n_bytes") == docs(id))
      assert(r.getAs[Long]("n_pixels") ==
        r.getAs[Int]("width").toLong * r.getAs[Int]("height"))
      // decoded dims come from the actual ImageIO decode
      assert(r.getAs[Int]("img_w") == (id % 16 + 4).toInt)
      assert(r.getAs[Int]("img_h") == (id % 12 + 4).toInt)
      // thumb dims come from the 2x NN downscale of the DECODED image
      assert(r.getAs[Int]("thumb_w") == (id % 16 + 4).toInt / 2)
      assert(r.getAs[Int]("thumb_h") == (id % 12 + 4).toInt / 2)
    }
  }

  test("nearest-neighbor thumb samples the exact decoded-plane pixels") {
    val payload = "The quick brown fox jumps over".getBytes("UTF-8")
    val (w, h) = (9, 7) // odd dims: the NN index mapping must round down
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.bmpBytes(payload, w, h)))
    val (tw, th, sum) = Multimodal.nearestNeighborThumb(img, 2)
    assert(tw == 4 && th == 3)
    // brute-force the same mapping straight from the payload plane
    var expected = 0L
    for (ty <- 0 until th; tx <- 0 until tw) {
      val sy = ty * h / th; val sx = tx * w / tw
      expected += payload((sy * w + sx) % payload.length) & 0xff
    }
    assert(sum == expected)
    // degenerate 1×1 source still thumbnails (dims floor at 1)
    val tiny = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.bmpBytes(payload, 1, 1)))
    assert(Multimodal.nearestNeighborThumb(tiny, 2)._1 == 1)
  }

  test("frame container parses and decodes to the expected moving windows") {
    val payload = "the quick brown fox jumps over the lazy dog again and again".getBytes("UTF-8")
    val n = 3
    val container = Multimodal.containerBytes(payload, n)
    val idx = java.nio.ByteBuffer.wrap(container)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(idx.getInt(0) == n)
    for (i <- 0 until n) {
      val off = idx.getInt(4 + 8 * i)
      val len = idx.getInt(4 + 8 * i + 4)
      assert(len == Multimodal.FrameBytes)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(container, off, len))
      assert(img != null && img.getWidth == 8 && img.getHeight == 6)
      for (y <- 0 until 6; x <- 0 until 8) {
        val expected = payload((i * 32 + y * 8 + x) % payload.length) & 0xff
        assert((img.getRGB(x, y) & 0xff) == expected, s"frame $i ($x,$y)")
      }
    }
  }

  test("scene cuts: decoded adjacent-frame L1 diffs match a byte-level recompute") {
    val cuts = Multimodal.sceneCuts(spark, sf).collect()
    assert(cuts.nonEmpty)
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // recompute straight from the payload bytes (the container's
    // moving-window construction), independent of the decode path
    for (r <- cuts.take(50)) {
      val (id, fi) = (r.getLong(0), r.getInt(1))
      val b = texts(id).getBytes("UTF-8")
      val want = (0 until 48).map(j =>
        math.abs((b((fi * 32 + j) % b.length) & 0xff) -
          (b(((fi - 1) * 32 + j) % b.length) & 0xff))).sum.toLong
      assert(r.getLong(2) == want, s"doc $id frame $fi")
      assert(r.getBoolean(3) == (want > 1000))
    }
    // frame 0 has no predecessor; per-doc frame indexes are 1..n-1
    assert(cuts.forall(_.getInt(1) >= 1))
    val perDoc = cuts.groupBy(_.getLong(0))
    perDoc.foreach { case (id, rs) =>
      val n = math.min(8, math.max(1, texts(id).getBytes("UTF-8").length / 32))
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 until n),
        s"doc $id frame set")
    }
  }

  test("BMP encode/ImageIO decode roundtrips the exact pixel plane") {
    val payload = "The quick brown fox".getBytes("UTF-8")
    val (w, h) = (7, 5)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.bmpBytes(payload, w, h)))
    assert(img != null, "JDK has no BMP reader?")
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val expected = payload((y * w + x) % payload.length) & 0xff
      val rgb = img.getRGB(x, y)
      // grayscale plane: all three channels carry the payload byte
      assert((rgb & 0xff) == expected, s"B at ($x,$y)")
      assert(((rgb >> 8) & 0xff) == expected, s"G at ($x,$y)")
      assert(((rgb >> 16) & 0xff) == expected, s"R at ($x,$y)")
    }
  }

  test("WAV bytes round-trip through the JDK audio codec sample-exact") {
    val samples = Array.tabulate(300)(i => ((i % 97 - 48) * 256).toShort)
    val wav = Multimodal.wavBytes(samples, 16000)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate.toInt == 16000 && fmt.getChannels == 1 &&
      fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
    assert(ais.getFrameLength == 300)
    val bb = java.nio.ByteBuffer.wrap(ais.readAllBytes())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val decoded = Array.fill(300)(bb.getShort)
    assert(decoded.sameElements(samples))
  }

  test("audio windows tile the decoded stream exactly") {
    val rows = Multimodal.audioFeatures(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, ws) =>
      val n = ws.head.getAs[Int]("n_samples")
      assert(n == (id % 512 + 256).toInt, s"doc $id decoded $n samples")
      assert(ws.map(_.getAs[Int]("win_n")).sum == n, s"doc $id windows don't tile")
      assert(ws.head.getAs[Int]("sample_rate") == (8000 + (id % 4) * 4000).toInt)
    }
  }

  test("image phash: exact replant collides at hamming 0, near plant within radius") {
    import org.apache.spark.sql.functions._
    val docs = Multimodal.withPhashPlants(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")))
    val pairs = Multimodal.phashDups(docs).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        r.getAs[Int]("hamming")).toMap
    // identical payload + 96000-aligned id shift ⇒ identical decoded
    // image ⇒ hamming 0, for every exact plant
    (0L until 25L).foreach { i =>
      assert(pairs.get((i, i + 96000)).contains(0), s"exact plant $i missed")
    }
    // reported hamming equals the direct signature distance
    val sigs = Multimodal.phashSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    pairs.foreach { case ((a, b), hm) =>
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) == hm)
      assert(hm <= 3)
    }
    // the last-char swap moves only plane pixels ≡ L−1 (mod L): at
    // least some near plants stay within the banding radius
    assert((25L until 50L).exists(i => pairs.contains((i, i + 96000))),
      "no near-image plant within hamming 3")
  }

  test("phash_topk: brute-force replay inside the radius, twins in the ball") {
    import org.apache.spark.sql.functions._
    val docs = Multimodal.withPhashPlants(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")))
    val got = Multimodal.phashTopK(docs).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Int]("hamming")))
    val sigs = Multimodal.phashSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash"))
    val expected = sigs.filter(_._1 < 50).toSeq.flatMap { case (q, qp) =>
      sigs.filter(_._1 != q).toSeq
        .map { case (id, p) => (id, java.lang.Long.bitCount(qp ^ p)) }
        .filter(_._2 <= 3)
        .sortBy(p => (p._2, p._1)).take(5).zipWithIndex
        .map { case ((id, hm), i) => (q, i + 1, id, hm) }
    }.sortBy(p => (p._1, p._2))
    assert(got.toSeq === expected, "phash top-k replay")
    // every exact replant (doc_id < 25 ↔ +96000) is IN its query's
    // ball at hamming 0 — assert membership, not rank 1 (natural
    // hamming-0 partners may win the id tie-break, the hamming_topk
    // lesson)
    val ball = got.groupBy(_._1)
    (0L until 25L).foreach { i =>
      assert(ball.get(i).exists(rs =>
          rs.exists(r => r._3 == i + 96000 && r._4 == 0) ||
            rs.count(_._4 == 0) == 5),
        s"exact replant $i not in its query's ball (and ball unsaturated)")
    }
  }

  test("incremental phash equals the cross-boundary slice of the self-join") {
    import org.apache.spark.sql.functions._
    val all = Multimodal.withPhashPlants(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")))
    val inc = Multimodal.phashIncremental(
        all.filter(col("doc_id") < 96000), all.filter(col("doc_id") >= 96000))
      .collect()
      .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id"),
        r.getAs[Int]("hamming"))).toSet
    // every exact plant hits its original across the boundary
    (0L until 25L).foreach { i =>
      assert(inc.contains((i, i + 96000, 0)), s"exact plant $i missed") }
    // the incremental form is exactly the cross-boundary slice of the
    // one-shot self-join — nothing lost or invented at the boundary
    val full = Multimodal.phashDups(all).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Int]("hamming")))
      .filter { case (a, b, _) => a < 96000 && b >= 96000 }.toSet
    assert(inc == full)
  }

  test("maintained phash index: daily steps equal one-shot cross-set detection") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("phidx").toString + "/idx"
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text"))
    // id shifts are multiples of 48 (≡ 0 mod 16 AND 12) so copies
    // decode at their original's dimensions and collide at hamming 0.
    // day 2 copies corpus doc 3 AND day-1 doc 96001 (base doc 1's
    // payload at 96001 + 96000 = 192001 — same dims class as 96001)
    val b1 = base.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 96000)
    val b2 = base.filter(col("doc_id").isin(1, 3))
      .withColumn("doc_id", col("doc_id") + 192000)
    Multimodal.writePhashIndex(base, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id"),
        r.getAs[Int]("hamming"))).toSet
    val day1 = rows(Multimodal.dedupPhashIncrementalStep(spark, dir, b1))
    val day2 = rows(Multimodal.dedupPhashIncrementalStep(spark, dir, b2))
    // exact copies hit their originals at hamming 0
    assert(Set((0L, 96000L, 0), (1L, 96001L, 0), (2L, 96002L, 0))
      .subsetOf(day1))
    assert(Set((1L, 192001L, 0), (3L, 192003L, 0)).subsetOf(day2))
    // the day-2 copy of a day-1 image is only findable via the append
    assert(day2.contains((96001L, 192001L, 0)),
      "day-2 copy of a day-1 image not detected through the index")
    // loop invariant: each day equals the one-shot cross-set form
    assert(day1 == rows(Multimodal.phashIncremental(base, b1)))
    assert(day2 == rows(Multimodal.phashIncremental(base.unionByName(b1), b2)))
  }

  test("audio features skip empty text and wrap high codepoints like the oracle") {
    import spark.implicits._
    // empty text: no byte stream to synthesize — skipped, not a crash;
    // ÿ (0xff ≥ 224): (255-96)*256 = 40704 overflows a short — the
    // sample must wrap to (40704+32768)%65536-32768 = -24832 exactly
    // as the oracle's modular form computes it
    val docs = Seq((0L, ""), (1L, "abc"), (2L, "ÿ"))
      .toDF("doc_id", "text")
    val rows = Multimodal.audioFeaturesOn(docs).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getAs[Long]("doc_id") == 0L), "empty doc not skipped")
    val hi = rows.filter(_.getAs[Long]("doc_id") == 2L)
    assert(hi.nonEmpty)
    // every sample of doc 2 is -24832, so peak = 24832 per window and
    // energy = win_n * 24832^2 — the wrapped value, not 40704
    hi.foreach { r =>
      assert(r.getAs[Int]("peak") == 24832, s"peak ${r.getAs[Int]("peak")}")
      assert(r.getAs[Long]("energy") ==
        r.getAs[Int]("win_n").toLong * 24832L * 24832L)
    }
  }

  test("ngram LM score matches a hand-computed bigram MLE") {
    import spark.implicits._
    // corpus bigrams: "a b" ×2 (doc1, doc2), "b a" ×1 (doc2)
    // contexts: a→2, b→1
    // doc1: ln P(b|a) = ln(2/2) = 0          → avg_neg_logp 0
    // doc2: [a b, b a] = ln(2/2) + ln(1/1)   → avg_neg_logp 0
    val docs = Seq((1L, "a b"), (2L, "a b a"), (3L, "x")).toDF("doc_id", "text")
    val rows = TextFunctions.ngramLmScore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(1L, 2L), "single-token docs have no bigrams")
    assert(rows(1L).getAs[Long]("n_bigrams") == 1L)
    assert(rows(2L).getAs[Long]("n_bigrams") == 2L)
    assert(rows(1L).getAs[Double]("avg_neg_logp") == 0.0)
    assert(rows(2L).getAs[Double]("avg_neg_logp") == 0.0)
    assert(rows(1L).getAs[Double]("ppl") == 1.0)

    // a rare continuation scores worse than the dominant one:
    // corpus "c d" ×3, "c e" ×1 → P(d|c)=3/4, P(e|c)=1/4
    val docs2 = Seq((1L, "c d"), (2L, "c d"), (3L, "c d"), (4L, "c e"))
      .toDF("doc_id", "text")
    val m = TextFunctions.ngramLmScore(docs2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_neg_logp")).toMap
    assert(math.abs(m(1L) - (-math.log(0.75))) < 1e-6)
    assert(math.abs(m(4L) - (-math.log(0.25))) < 1e-6)
    assert(m(4L) > m(1L), "rare continuation must score higher (worse)")
  }

  test("mask_spans: independent md5 replay, islands merged, bounds respected") {
    import spark.implicits._
    // independent hash replay (MessageDigest directly — NOT the
    // library helper, so a drift in either side fails here)
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val docs = Seq(
      (1L, (0 until 200).map(i => s"w$i").mkString(" ")),
      (2L, "one two three"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextFunctions.maskSpansOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // replay: covered set → islands
    val expected = Seq(1L -> 200, 2L -> 3).flatMap { case (id, n) =>
      val cov = Array.fill(n)(false)
      for (p <- 0 until n if h32(s"$id:$p") % 20 == 0;
           i <- p to math.min(p + 2, n - 1)) cov(i) = true
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var i = 0
      while (i < n) {
        if (cov(i)) {
          var j = i; while (j + 1 < n && cov(j + 1)) j += 1
          spans += ((id, i.toLong, (j - i + 1).toLong)); i = j + 1
        } else i += 1
      }
      spans
    }
    assert(got.toSeq === expected, "mask replay")
    // islands truly merged: consecutive spans of a doc never touch
    got.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.zip(sorted.tail).foreach { case ((_, s1, l1), (_, s2, _)) =>
        assert(s1 + l1 < s2, "adjacent spans must have merged")
      }
    }
    // determinism: the mask depends only on (doc_id, token count)
    val again = TextFunctions.maskSpansOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === got.toSeq)
  }

  test("corpus_card: exact per-language counts on a crafted corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa", "x y x"),
      (2L, "aa", "X Y x"), // exact dup of 1 after lowercasing
      (3L, "aa", "z z"),
      (4L, "bb", "w")).toDF("doc_id", "lang", "text")
    val rows = TextFunctions.corpusCardOn(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(rows("aa") === ((3L, 8L, 3L, 2L,
      BigDecimal(8.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)))
    assert(rows("bb") === ((1L, 1L, 1L, 0L, 1.0)))
  }

  test("pack_masked: masked tokens conserved through packing, replay from components") {
    import graft.operators.Curate
    val d = Tables.documents(spark, sf)
    val got = Curate.packMaskedOn(d, 512, 100).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4)))
    // in-window bounds: every translated span fits its cap-512 window
    got.foreach { case (_, _, _, ws, wl) =>
      assert(ws >= 0 && wl >= 1 && ws + wl <= 512) }
    // conservation: every masked position lands in exactly one window
    val spans = TextFunctions.maskSpansOn(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val perDocMask = spans.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._3).sum }
    val perDocWin = got.groupBy(_._2).map { case (k, v) =>
      k -> v.map(_._5.toLong).sum }
    assert(perDocWin === perDocMask, "masked-token totals must be conserved")
    // full replay from the two component operators' own outputs
    val segs = Curate.packSegments(d, 512, 100).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("bin_id"), r.getAs[Int]("bin_offset"),
        r.getAs[Int]("seg_start"), r.getAs[Int]("seg_len")))
    val bySpanDoc = spans.groupBy(_._1)
    val expected = (for {
      (did, lang, bin, boff, ss, sl) <- segs.toSeq
      (_, sp, spl) <- bySpanDoc.getOrElse(did, Array.empty[(Long, Long, Long)]).toSeq
      lo = math.max(sp, ss.toLong)
      hi = math.min(sp + spl, ss + sl.toLong)
      if hi > lo
    } yield (lang, did, bin, (boff + (lo - ss)).toInt, (hi - lo).toInt)).sorted
    assert(got.toSeq.sorted === expected)
  }

  test("min-k% prob replays a brute-force bottom-20% walk, partial takes included") {
    import spark.implicits._
    // doc 1 exercises a PARTIAL take: bigrams {a b:3, b a:2, b c:1},
    // n=6 → m=2 — the rarest occurrence (b c) plus ONE of an
    // equal-lp pair. docs 2-3 cover m=1 cuts at n=5 and n=3.
    val docs = Seq(
      (1L, "a b a b a b c"),
      (2L, "a b c d e f"),
      (3L, "a a a a")).toDF("doc_id", "text")
    val out = TextFunctions.minkProbOn(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_sel"),
          r.getAs[Double]("mink_neg_logp")))).toMap

    // brute-force replay (no carve: no doc_id % 50 == 0 here)
    val toks = Map(1L -> "a b a b a b c", 2L -> "a b c d e f",
      3L -> "a a a a").map { case (id, t) => id -> t.split("\\s+").toSeq }
    val bgs = toks.map { case (id, ts) =>
      id -> ts.zip(ts.tail).map { case (x, y) => s"$x $y" } }
    val model = bgs.values.flatten.groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    val ctx = bgs.values.flatten.map(_.split(" ")(0))
      .groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val v = toks.values.flatten.toSet.size.toLong
    def lp9(b: String): BigDecimal = {
      val p = (model.getOrElse(b, 0L) + 0.25) /
        (ctx.getOrElse(b.split(" ")(0), 0L) + 0.25 * v)
      BigDecimal(math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    bgs.foreach { case (id, bl) =>
      val n = bl.size
      val m = (n + 4) / 5
      val sel = bl.map(lp9).sorted.take(m)
      val expect = BigDecimal(-(sel.sum.toDouble / m))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (gn, gm, gs) = out(id)
      assert(gn === n.toLong && gm === m.toLong, s"doc $id counts")
      assert(gs === expect, s"doc $id min-k% score")
      assert(gs > 0.0)
    }
  }

  test("ngram LM: scoring against a materialized model artifact matches self-trained") {
    val tmp = java.nio.file.Files.createTempDirectory("lm_model").toString
    val docs = Tables.documents(spark, sf)
    val docBg = TextFunctions.docBigrams(docs)
    val (model, ctx) = TextFunctions.ngramLmModel(docBg)
    model.write.mode("overwrite").parquet(s"$tmp/model")
    ctx.write.mode("overwrite").parquet(s"$tmp/ctx")
    val viaArtifact = TextFunctions.ngramLmScoreWith(docBg,
      spark.read.parquet(s"$tmp/model"), spark.read.parquet(s"$tmp/ctx"))
      .collect().map(_.toSeq)
    val selfTrained = TextFunctions.ngramLmScore(docs).collect().map(_.toSeq)
    assert(viaArtifact.sameElements(selfTrained))
  }

  test("ngram LM scores are non-negative on the corpus (p <= 1 always)") {
    val rows = TextFunctions.ngramLmScore(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Double]("avg_neg_logp")
      assert(s >= 0.0, s"doc ${r.getAs[Long]("doc_id")} scored $s")
      assert(r.getAs[Double]("ppl") >= 1.0)
      assert(r.getAs[Long]("n_bigrams") > 0L)
    }
  }

  test("held-out LM scorer: free-α form at α = 0.25 agrees with the exact-decimal form") {
    import org.apache.spark.sql.functions.{col, countDistinct, explode}
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val bg = TextFunctions.docBigrams(docs).localCheckpoint()
    val (model, ctx) = TextFunctions.ngramLmModel(
      bg.filter(col("doc_id") % 50 =!= 0))
    val vocab = docs.select(explode(TextFunctions.tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t"))).head.getLong(0)
    def ppl(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ppl")).toMap
    val free = ppl(TextFunctions.ngramLmScoreHeldOut(bg, model, ctx, vocab,
      alpha = 0.25))
    val exact = ppl(TextFunctions.ngramLmScoreHeldOutExact(bg, model, ctx, vocab))
    assert(free.nonEmpty && free.keySet == exact.keySet)
    free.foreach { case (id, p) =>
      assert(math.abs(p - exact(id)) <= 1e-4 * exact(id), s"doc $id: $p vs ${exact(id)}")
    }
    // unseen bigrams are smoothed, never infinite: held-out docs score
    // finite perplexities above 1
    assert(free.values.forall(p => p >= 1.0 && !p.isInfinite))
  }

  test("distilled quality model satisfies the OLS invariants when scoring") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("qmodel").toString
    TextFunctions.writeQualityModel(spark, sf, dir)
    val fit = spark.read.parquet(dir).head()
    val preds = TextFunctions.scoreWithQualityModel(
      Tables.documents(spark, sf), dir)
    val truth = TextFunctions.ngramLmScore(spark, sf)
      .select(col("doc_id"), col("avg_neg_logp"))
    val j = preds.join(truth, "doc_id")
      .select(col("avg_neg_logp").as("y"), col("pred_neg_logp").as("p"))
      .localCheckpoint()
    val n = j.count().toDouble
    assert(n > 0)
    // OLS with intercept: residuals sum to ~0 on the training corpus
    val meanResid = j.agg(sum(col("y") - col("p"))).head().getDouble(0) / n
    assert(math.abs(meanResid) < 1e-4, s"mean residual $meanResid")
    // residual-recomputed R^2 matches the fit's (coefficients rounded
    // to 6 dp, so allow a small tolerance)
    val sy = j.agg(sum(col("y"))).head().getDouble(0)
    val sse = j.agg(sum(pow(col("y") - col("p"), 2))).head().getDouble(0)
    val sst = j.agg(sum(pow(col("y") - lit(sy / n), 2))).head().getDouble(0)
    val r2 = 1.0 - sse / sst
    assert(math.abs(r2 - fit.getAs[Double]("r2")) < 1e-3,
      s"recomputed r2 $r2 vs fit ${fit.getAs[Double]("r2")}")
  }

  test("interpolated LM separates novel phrasing from true gibberish") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, count, countDistinct, lit}
    val docs = Tables.documents(spark, sf)
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val (model, ctx) = TextFunctions.ngramLmModel(TextFunctions.docBigrams(train))
    val uni = train.select(explode(TextFunctions.tokens(col("text"))).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("ucnt"))
    val stats = train.select(explode(TextFunctions.tokens(col("text"))).as("t"))
      .agg(count(lit(1)).as("n"), countDistinct(col("t")).as("v")).head()
    // three probes: natural text (common bigrams), a SHUFFLED pairing
    // of common words (novel bigrams, seen unigrams — the JM case:
    // backs off to unigram mass), and true gibberish (unseen unigrams
    // — only the uniform floor remains)
    val common = train.select(explode(TextFunctions.tokens(col("text"))).as("t"))
      .groupBy("t").count().orderBy(col("count").desc, col("t"))
      .limit(12).collect().map(_.getString(0))
    val natural = docs.filter(col("doc_id") === 1).head.getAs[String]("text")
    val shuffled = (common.grouped(2).map(_.reverse.mkString(" ")).toSeq ++
      common.reverse.grouped(3).map(_.mkString(" "))).mkString(" ")
    val gibberish = (1 to 40).map(i => s"zzqx$i").mkString(" ")
    val probes = Seq((1L, natural), (2L, shuffled), (3L, gibberish))
      .toDF("doc_id", "text")
    val scored = TextFunctions.ngramLmInterpExact(
        TextFunctions.docBigrams(probes), model, ctx, uni,
        stats.getAs[Long]("n"), stats.getAs[Long]("v"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ppl")).toMap
    assert(scored(1L) < scored(3L), s"natural ${scored(1L)} !< gib ${scored(3L)}")
    assert(scored(2L) < scored(3L),
      s"novel-common ${scored(2L)} !< gibberish ${scored(3L)} — " +
        "the unigram back-off must beat the uniform floor")
    // the floor is where gibberish lands: ppl ≈ 1/(0.05/V)-ish scale,
    // far above anything with seen unigrams
    assert(scored(3L) > 10 * scored(2L), scored.toString)
  }

  test("Kneser-Ney gate: discount moves mass to continuations, floor catches gibberish") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, count, countDistinct, lit, sum, element_at, split}
    val docs = Tables.documents(spark, sf)
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val trainBg = TextFunctions.docBigrams(train)
    val model = trainBg.groupBy(col("bigram")).agg(sum(col("k")).as("cnt"))
    val cstat = trainBg.groupBy(col("w1"))
      .agg(sum(col("k")).as("ctx"), countDistinct(col("bigram")).as("n1fwd"))
    val cont = trainBg
      .select(element_at(split(col("bigram"), " "), 2).as("w2"), col("w1"))
      .distinct().groupBy(col("w2")).agg(count(lit(1)).as("cont"))
    val bigramTypes = model.count()
    val vocab = train.select(explode(TextFunctions.tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t"))).head.getLong(0)
    val common = train.select(explode(TextFunctions.tokens(col("text"))).as("t"))
      .groupBy("t").count().orderBy(col("count").desc, col("t"))
      .limit(12).collect().map(_.getString(0))
    val natural = docs.filter(col("doc_id") === 1).head.getAs[String]("text")
    val shuffled = (common.grouped(2).map(_.reverse.mkString(" ")).toSeq ++
      common.reverse.grouped(3).map(_.mkString(" "))).mkString(" ")
    val gibberish = (1 to 40).map(i => s"zzqx$i").mkString(" ")
    val probes = Seq((1L, natural), (2L, shuffled), (3L, gibberish))
      .toDF("doc_id", "text")
    val scored = TextFunctions.ngramLmKnExact(
        TextFunctions.docBigrams(probes), model, cstat, cont,
        bigramTypes, vocab)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ppl")).toMap
    // novel bigrams of COMMON words ride the continuation back-off
    // (those words complete many distinct contexts); gibberish has
    // cont=0 everywhere and lands on the 1/(T+V) floor
    assert(scored(1L) < scored(3L), s"natural ${scored(1L)} !< gib ${scored(3L)}")
    assert(scored(2L) < scored(3L),
      s"novel-common ${scored(2L)} !< gibberish ${scored(3L)}")
    assert(scored(3L) > 10 * scored(2L), scored.toString)
  }

  test("normalizeText is idempotent over adversarial compositions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // strings assembled from every ingredient the op touches: repair
    // patterns and their outputs, NFD fragments, kept and stripped
    // controls, plain ASCII — normalize(normalize(x)) == normalize(x)
    // (repairs can't re-create a pattern, NFC is idempotent, strip is
    // idempotent), and counts are zero on the second pass
    val pool = Seq("Ã©", "é", "â€”", "—", "â€™", "é", "Å",
      "\u0007", "\t", "\u001f", "x", " ", "plain", "Ã¯Ã¨")
    val rows = (0 until 64).map { i =>
      val s = (0 until 6).map(j => pool((i * 7 + j * 13) % pool.size)).mkString
      (i.toLong, s)
    }.toDF("doc_id", "text")
    val once = TextFunctions.normalizeText(rows)
    val again = TextFunctions.normalizeText(
      once.select(col("doc_id"), col("norm_text").as("text")))
    val a = once.select("doc_id", "norm_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = again.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    a.foreach { case (id, norm) =>
      assert(b(id).getAs[String]("norm_text") == norm, s"doc $id not stable")
      assert(b(id).getAs[Int]("n_mojibake") == 0 &&
        b(id).getAs[Int]("n_controls") == 0 &&
        b(id).getAs[Int]("changed") == 0, s"doc $id second pass not clean")
    }
  }

  test("normalizeText repairs mojibake, strips controls, composes NFC") {
    import spark.implicits._
    val rows = Seq(
      // double-encoded "café — naïve" + a kept tab
      (1L, "cafÃ©\tâ€” naÃ¯ve"),
      // NFD e+combining-acute, BEL and US controls stripped
      (2L, "\u0007e\u0301x\u001f"),
      // clean ASCII passes through unchanged
      (3L, "plain ascii text"))
      .toDF("doc_id", "text")
    val got = TextFunctions.normalizeText(rows).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[String]("norm_text") == "café\t— naïve")
    assert(got(1L).getAs[Int]("n_mojibake") == 3)
    assert(got(1L).getAs[Int]("n_controls") == 0) // \t is KEPT
    assert(got(1L).getAs[Int]("changed") == 1)
    assert(got(2L).getAs[String]("norm_text") == "éx")
    assert(got(2L).getAs[Int]("n_controls") == 2)
    assert(got(2L).getAs[Int]("n_chars_raw") == 5) // codepoints, pre-strip
    assert(got(2L).getAs[Int]("n_chars_norm") == 2) // é composed + x
    assert(got(3L).getAs[String]("norm_text") == "plain ascii text")
    assert(got(3L).getAs[Int]("changed") == 0)
    assert(got(3L).getAs[Int]("n_mojibake") == 0 &&
      got(3L).getAs[Int]("n_controls") == 0)
  }
  test("select_learnability: delta replays from the two LM scorers, bins/keep exact") {
    val out = TextFunctions.selectLearnability(spark, sf).collect()
    def nll(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_neg_logp"))
      .toMap
    val self = nll(TextFunctions.ngramLmScore(spark, sf))
    val ref = nll(TextFunctions.ngramLmHeldOut(spark, sf))
    assert(out.map(_.getAs[Long]("doc_id")).toSet ==
      (self.keySet & ref.keySet))
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val d = r.getAs[Double]("delta")
      val want = BigDecimal(self(id) - ref(id))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(d == want, s"doc $id delta $d != $want")
      assert(r.getAs[Int]("bin") == math.floor(d * 10).toInt)
      assert(r.getAs[Int]("keep") == (if (d > 0) 1 else 0))
    }
    // structural direction on this corpus (the self-trained-gate
    // blindness note): the self MLE saw every doc, the reference did
    // not see the holdout carve — so holdout docs (doc_id%50==0) sit
    // at MORE NEGATIVE excess loss than the train carve on average
    val (ho, tr) = out.partition(_.getAs[Long]("doc_id") % 50 == 0)
    def mean(xs: Array[org.apache.spark.sql.Row]) =
      xs.map(_.getAs[Double]("delta")).sum / xs.length
    assert(mean(ho) < mean(tr),
      s"holdout mean ${mean(ho)} !< train mean ${mean(tr)}")
  }
}

