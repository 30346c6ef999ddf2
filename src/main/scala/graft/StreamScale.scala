package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStream

/** Streaming scale probe (the Scale10 analog for the TTL-bounded
  * streaming operators): drives `streamingDedupTtl` and
  * `streamingMinhashPairsTtl` through a MemoryStream under the
  * RocksDB state store provider at `mult`× volume and measures what a
  * user sizing a production stream needs first:
  *
  *   - throughput (input rows/s end-to-end over all micro-batches),
  *   - batch latency (mean/max triggerExecution),
  *   - state size (`stateOperators.numRowsTotal`) at quartile
  *     checkpoints, against the analytic bound arrival-rate ×
  *     (horizon + watermark delay) — the point being that state
  *     tracks the HORIZON, not stream lifetime: distinct keys grow
  *     linearly while state plateaus.
  *
  * Usage: `runMain graft.StreamScale [mult]` (default 10; 10 ⇒ 500k
  * dedup rows / 1M band rows). Every hash is unique, so dedup state
  * sees the worst case (each arrival inserts); event time advances
  * 20ms per row, horizon 10 simulated minutes, watermark delay 10
  * minutes ⇒ expected plateau ≈ 1200s / 0.02s = 60k entries
  * regardless of mult.
  */
object StreamScale {
  private val RowsPerMult = 50000L
  private val StepMs = 20L
  private val HorizonMs = 10 * 60 * 1000L
  private val WatermarkDelay = "10 minutes"
  private val Batches = 25

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.flatMap(a => scala.util.Try(a.toInt).toOption)
      .getOrElse(10)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val n = mult * RowsPerMult
    val t0Ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val perBatch = n / Batches
    val bound = (HorizonMs + 10 * 60 * 1000L) / StepMs

    // ---- streamingDedupTtl: every hash unique (worst-case inserts) --
    locally {
      val input = MemoryStream[EventStream.DocInTs]
      val q = EventStream.streamingDedupTtl(input.toDS(), HorizonMs, WatermarkDelay)
        .toDF("content_hash", "keeper")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("ss_dedup").start()
      val t0 = System.nanoTime()
      val stateAt = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var fed = 0L
      (0 until Batches).foreach { b =>
        val rows = (0L until perBatch).map { j =>
          val i = b * perBatch + j
          EventStream.DocInTs(i, s"h$i",
            new java.sql.Timestamp(t0Ms + i * StepMs))
        }
        input.addData(rows)
        q.processAllAvailable()
        fed += rows.length
        if ((b + 1) % (Batches / 4) == 0)
          stateAt += ((fed,
            q.recentProgress.filter(_.stateOperators.nonEmpty)
              .last.stateOperators.head.numRowsTotal))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val trig = q.recentProgress.toSeq
        .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      q.stop()
      val emitted = spark.table("ss_dedup").count()
      println(f"SCALE stream_dedup_ttl_${mult}x rows=$n time=$sec%.1fs " +
        f"rps=${n / sec}%.0f emitted=$emitted " +
        s"state@checkpoints=${stateAt.map { case (f, s) => s"$f:$s" }.mkString(",")} " +
        f"stateBound=$bound batchMs_mean=${trig.sum / math.max(1, trig.size)} " +
        s"batchMs_max=${if (trig.isEmpty) 0 else trig.max}")
    }

    // ---- streamingMinhashPairsTtl: 2 bands/doc, small buckets -------
    locally {
      val input = MemoryStream[EventStream.BandRowTs]
      val q = EventStream.streamingMinhashPairsTtl(input.toDS(), HorizonMs, WatermarkDelay)
        .toDF("d1", "d2")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("ss_mh").start()
      val t0 = System.nanoTime()
      val stateAt = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var fed = 0L
      (0 until Batches).foreach { b =>
        val rows = (0L until perBatch).flatMap { j =>
          val i = b * perBatch + j
          val ts = new java.sql.Timestamp(t0Ms + i * StepMs)
          // band 0 pairs consecutive docs; band 1 pairs across a
          // stride of 3 — bounded bucket occupancy like real banding
          Seq(EventStream.BandRowTs(i, 0, s"a${i / 2}", ts),
              EventStream.BandRowTs(i, 1, s"b${i / 3}", ts))
        }
        input.addData(rows)
        q.processAllAvailable()
        fed += rows.length
        if ((b + 1) % (Batches / 4) == 0)
          stateAt += ((fed,
            q.recentProgress.filter(_.stateOperators.nonEmpty)
              .last.stateOperators.head.numRowsTotal))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val trig = q.recentProgress.toSeq
        .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      q.stop()
      val emitted = spark.table("ss_mh").count()
      // band rows per doc = 2, buckets ≈ rows (stride-2 + stride-3)
      println(f"SCALE stream_minhash_ttl_${mult}x bandRows=${2 * n} time=$sec%.1fs " +
        f"rps=${2 * n / sec}%.0f pairs=$emitted " +
        s"state@checkpoints=${stateAt.map { case (f, s) => s"$f:$s" }.mkString(",")} " +
        f"stateBound=${2 * bound} batchMs_mean=${trig.sum / math.max(1, trig.size)} " +
        s"batchMs_max=${if (trig.isEmpty) 0 else trig.max}")
    }
    // ---- streamingSketchDistinct: state FIXED at #groups ------------
    // every key unique (worst case for exact distinct-count state:
    // linear growth) — HLL state must stay at 8 register-array rows
    // whatever the volume, and the final estimates must sit within
    // the ~1.6% HLL band of the true n/8 per group
    locally {
      val input = MemoryStream[(String, String)]
      val q = EventStream.streamingSketchDistinct(input.toDS())
        .toDF("grp", "estimate")
        .writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("ss_hll").start()
      val t0 = System.nanoTime()
      val stateAt = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var fed = 0L
      (0 until Batches).foreach { b =>
        val rows = (0L until perBatch).map { j =>
          val i = b * perBatch + j
          (s"g${i % 8}", s"k$i")
        }
        input.addData(rows)
        q.processAllAvailable()
        fed += rows.length
        if ((b + 1) % (Batches / 4) == 0)
          stateAt += ((fed,
            q.recentProgress.filter(_.stateOperators.nonEmpty)
              .last.stateOperators.head.numRowsTotal))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      val finalEst = spark.table("ss_hll").collect()
        .zipWithIndex.groupBy(_._1.getString(0))
        .map { case (g, rs) => g -> rs.maxBy(_._2)._1.getDouble(1) }
      val truth = n / 8.0
      val worstErr = finalEst.values.map(e => math.abs(e - truth) / truth).max
      println(f"SCALE stream_hll_${mult}x rows=$n time=$sec%.1fs " +
        f"rps=${n / sec}%.0f " +
        s"state@checkpoints=${stateAt.map { case (f, s) => s"$f:$s" }.mkString(",")} " +
        f"stateBound=8 worstRelErr=$worstErr%.4f")
    }
    // ---- streamingEmbLshPairsTtl: cosine-verified bucket state ------
    locally {
      val rnd = new scala.util.Random(11)
      val input = MemoryStream[EventStream.EmbCodeRowTs]
      val q = EventStream.streamingEmbLshPairsTtl(input.toDS(), HorizonMs)
        .toDF("v1", "v2", "cos_sim")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("ss_emb").start()
      val t0 = System.nanoTime()
      val stateAt = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var fed = 0L
      (0 until Batches).foreach { b =>
        val rows = (0L until perBatch).map { j =>
          val i = b * perBatch + j
          // 2 members per bucket on average (stride-2 codes over one
          // table id), unit-ish random vectors — state carries the
          // vector, so per-entry weight is the 64-float payload
          EventStream.EmbCodeRowTs(i, 0, (i / 2).toInt,
            Array.fill(64)(rnd.nextGaussian().toFloat),
            new java.sql.Timestamp(t0Ms + i * StepMs))
        }
        input.addData(rows)
        q.processAllAvailable()
        fed += rows.length
        if ((b + 1) % (Batches / 4) == 0)
          stateAt += ((fed,
            q.recentProgress.filter(_.stateOperators.nonEmpty)
              .last.stateOperators.head.numRowsTotal))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val trig = q.recentProgress.toSeq
        .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      q.stop()
      val emitted = spark.table("ss_emb").count()
      println(f"SCALE stream_emblsh_ttl_${mult}x rows=$n time=$sec%.1fs " +
        f"rps=${n / sec}%.0f candPairs=$emitted " +
        s"state@checkpoints=${stateAt.map { case (f, s) => s"$f:$s" }.mkString(",")} " +
        f"stateBound=$bound batchMs_mean=${trig.sum / math.max(1, trig.size)} " +
        s"batchMs_max=${if (trig.isEmpty) 0 else trig.max}")
    }

    // ---- streamingAnomalyStats: state FIXED at #users ---------------
    // worst case for per-entity model state: every batch touches every
    // user. State must plateau at exactly #users rows (24-byte moment
    // tuples) however many rows stream through.
    locally {
      val users = 5000
      val input = MemoryStream[(Long, Double)]
      val q = EventStream.streamingAnomalyStats(input.toDS())
        .toDF("user_id", "n", "mean", "variance", "std")
        .writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("ss_anom").start()
      val t0 = System.nanoTime()
      val stateAt = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var fed = 0L
      (0 until Batches).foreach { b =>
        val rows = (0L until perBatch).map { j =>
          val i = b * perBatch + j
          (i % users, (i % 997) / 100.0)
        }
        input.addData(rows)
        q.processAllAvailable()
        fed += rows.length
        if ((b + 1) % (Batches / 4) == 0)
          stateAt += ((fed,
            q.recentProgress.filter(_.stateOperators.nonEmpty)
              .last.stateOperators.head.numRowsTotal))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      println(f"SCALE stream_anomaly_${mult}x rows=$n time=$sec%.1fs " +
        f"rps=${n / sec}%.0f " +
        s"state@checkpoints=${stateAt.map { case (f, s) => s"$f:$s" }.mkString(",")} " +
        s"stateBound=$users")
    }
    // ---- streamingDqMetrics: state FIXED at #metrics -----------------
    locally {
      import org.apache.spark.sql.functions.col
      val input = MemoryStream[(Long, Double)]
      val q = EventStream.streamingDqMetrics(
          input.toDS().toDF("id", "v"),
          Seq("nonpositive" -> (col("v") <= 0.0),
            "out_of_range" -> (col("v") > 9.0),
            "null_v" -> col("v").isNull))
        .writeStream.outputMode(OutputMode.Complete)
        .format("memory").queryName("ss_dq").start()
      val t0 = System.nanoTime()
      val stateAt = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var fed = 0L
      (0 until Batches).foreach { b =>
        val rows = (0L until perBatch).map { j =>
          val i = b * perBatch + j
          (i, (i % 1001) / 100.0)
        }
        input.addData(rows)
        q.processAllAvailable()
        fed += rows.length
        if ((b + 1) % (Batches / 4) == 0)
          stateAt += ((fed,
            q.recentProgress.filter(_.stateOperators.nonEmpty)
              .last.stateOperators.head.numRowsTotal))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      val finalRows = spark.table("ss_dq").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      println(f"SCALE stream_dq_${mult}x rows=$n time=$sec%.1fs " +
        f"rps=${n / sec}%.0f " +
        s"state@checkpoints=${stateAt.map { case (f, s) => s"$f:$s" }.mkString(",")} " +
        s"stateBound=4 final=${finalRows.toSeq.sorted.mkString(",")}")
    }

    // ---- compactingSink: file-count maintenance under load ---------
    // the signal is the LAYOUT, not throughput: after many tiny
    // batches the current view must be a handful of files, not
    // batches × partitions
    locally {
      val dir = s"/tmp/streamscale_lsm_$mult"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val input = MemoryStream[(Long, Double)]
      val q = graft.sources.Compact.compactingSink(
        input.toDS().toDF("id", "v"), dir, compactEvery = 10)
      val batches = 5 * mult
      val rowsPerBatch = 2000
      val t0 = System.nanoTime()
      (0 until batches).foreach { b =>
        input.addData((0 until rowsPerBatch).map(i =>
          (b * 10000L + i, i / 7.0)))
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      val n = graft.sources.Compact.readCompacting(spark, dir).count()
      def filesUnder(p: String): Int = {
        def walk(f: java.io.File): Int =
          if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
          else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
        walk(new java.io.File(p))
      }
      println(f"SCALE stream_compact_sink_${mult}x batches=$batches " +
        f"rows=$n time=$sec%.1fs rps=${batches.toLong * rowsPerBatch / sec}%.0f " +
        s"filesNow=${filesUnder(dir)} " +
        s"filesWithoutCompaction>=${batches}")
    }

    // ---- streamingCdcApply: bucket-bounded snapshot maintenance ----
    // the signal is per-batch WRITE scope: a diff batch reads and
    // rewrites only the key-hash buckets its keys occupy (≤ batch
    // keys of 1024 directories), so per-batch time must track the
    // batch's key spread, not the mult× snapshot
    locally {
      import org.apache.spark.sql.functions._
      val dir = s"/tmp/streamscale_cdc_$mult"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val snapRows = mult * RowsPerMult // 500k at 10x
      val snap = spark.range(snapRows).select(col("id"),
        (col("id") % 1000).cast("double").as("v"))
      val tw = System.nanoTime()
      EventStream.writeCdcSnapshot(snap, dir, Seq("id"), buckets = 1024)
      val wSec = (System.nanoTime() - tw) / 1e9
      val input = MemoryStream[(Long, String, Option[Double], Option[Double])]
      val q = EventStream.streamingCdcApply(
        input.toDF().toDF("id", "change_type", "old_v", "new_v"),
        dir, Seq("id"), Seq("v"), buckets = 1024)
      val batches = 10
      val rowsPerBatch = 50 // 5 inserts / 5 deletes / 40 updates
      val times = (0 until batches).map { b =>
        val base = b.toLong * rowsPerBatch
        val t1 = System.nanoTime()
        input.addData((0 until rowsPerBatch).map { i =>
          val id = base + i
          if (i % 10 == 0)
            (snapRows + id, "insert", Option.empty[Double], Option(1.0))
          else if (i % 10 == 1)
            (id, "delete", Option(0.0), Option.empty[Double])
          else (id, "update", Option(0.0), Option(2.0))
        })
        q.processAllAvailable()
        (System.nanoTime() - t1) / 1e9
      }
      q.stop()
      val nFinal = EventStream.readCdcSnapshot(spark, dir).count()
      println(f"SCALE stream_cdc_sink_${mult}x snap=$snapRows init=$wSec%.1fs " +
        f"batches=$batches rowsPerBatch=$rowsPerBatch " +
        f"meanBatch=${times.sum / batches}%.2fs maxBatch=${times.max}%.2fs " +
        s"final=$nFinal expected=$snapRows")
    }

    // ---- serveEachBatch: pruned probes of standing stored layouts ----
    // streaming kNN classification over the stored labeled layout:
    // the same 1×-vs-mult× scorecard as stream_ann_ivf below — the
    // vote rides the pruned probe, so per-batch cost must track
    // probed-bucket occupancy, never the corpus. The centroid twin
    // is measured on the mult× model only: its serve is one
    // broadcast map against a C·dim artifact, so corpus size cannot
    // appear anywhere but training.
    locally {
      val d = "/root/testdata/sf0.1"
      import org.apache.spark.sql.functions.{col, lit}
      val emb1 = graft.Tables.embeddings(spark, d)
      val labeled = graft.operators.Similarity.LabeledCodec(
        graft.operators.Similarity.ivfCentroids(spark, d))
      val embN = (0 until mult).map { i =>
        emb1.withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
      }.reduce(_ unionByName _)
      val qVecs = emb1.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      val nq = math.min(mult * 100L, qVecs.length.toLong).toInt
      def serveCls(dir: String, tag: String): Double = {
        val input = MemoryStream[EventStream.QueryVec]
        var emitted = 0L
        val q = EventStream.serveEachBatch(input.toDS())(b =>
          graft.functions.Classify.classifyKnnServeBatch(b.sparkSession, dir,
            labeled, b.toDF("query_id", "embedding"))) {
          preds => emitted += preds.count()
        }
        val t0 = System.nanoTime()
        val qBatches = 10
        (0 until qBatches).foreach { b =>
          val rows = (0 until nq / qBatches).map { j =>
            val (id, v) = qVecs((b * (nq / qBatches) + j) % qVecs.length)
            EventStream.QueryVec(id + 1000000L * (b + 1), v)
          }
          input.addData(rows)
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_classify_knn_$tag queries=$nq time=$sec%.1fs " +
          f"qps=${nq / sec}%.1f preds=$emitted")
        sec
      }
      graft.operators.Similarity.writeLayout(
        labeled, emb1, "/tmp/streamscale_knncls1")
      graft.operators.Similarity.writeLayout(
        labeled, embN, s"/tmp/streamscale_knncls$mult")
      val s1 = serveCls("/tmp/streamscale_knncls1", "corpus1x")
      val sN = serveCls(s"/tmp/streamscale_knncls$mult", s"corpus${mult}x")
      println(f"SCALE stream_classify_knn_${mult}x_vs_1x slowdown=${sN / s1}%.2f " +
        f"(unpruned would be ~${mult}x)")
      // centroid twin: model trained on the mult× corpus, streamed
      // serve of the same query set — absolute qps is the story
      graft.functions.Classify.writeCentroidModel(
        embN, s"/tmp/streamscale_cent$mult/cent")
      locally {
        val input = MemoryStream[EventStream.QueryVec]
        var emitted = 0L
        val q = EventStream.serveEachBatch(input.toDS())(b =>
          graft.functions.Classify.classifyCentroidServeBatch(b.sparkSession,
            s"/tmp/streamscale_cent$mult/cent", b.toDF("vec_id", "embedding"))) {
          preds => emitted += preds.count()
        }
        val t0 = System.nanoTime()
        (0 until 10).foreach { b =>
          input.addData((0 until nq / 10).map { j =>
            val (id, v) = qVecs((b * (nq / 10) + j) % qVecs.length)
            EventStream.QueryVec(id + 1000000L * (b + 1), v)
          })
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_classify_centroid_${mult}x queries=$nq " +
          f"time=$sec%.1fs qps=${nq / sec}%.1f preds=$emitted")
      }
      // distilled-quality twin: the ruler distills from the mult×
      // corpus ONCE (the expensive LM + tertile chain), then every
      // streamed micro-batch gates on one token-count join against
      // the vocab-sized model — absolute doc/s is the story (the
      // model is corpus-size-independent once trained, like the
      // centroid artifact)
      locally {
        val docs1 = graft.Tables.documents(spark, d)
        val docsN = (0 until mult).map { i =>
          docs1.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
        }.reduce(_ unionByName _)
        graft.functions.Classify.writeQualityModel(
          docsN, s"/tmp/streamscale_qual$mult/quality")
        val qDocs = docs1.select(col("doc_id"), col("text"))
          .as[(Long, String)].collect()
        val nd = math.min(mult * 100L, qDocs.length.toLong).toInt
        val input = MemoryStream[EventStream.DocText]
        var emitted = 0L
        val q = EventStream.serveEachBatch(input.toDS())(b =>
          graft.functions.Classify.qualityNbServeBatch(b.sparkSession,
            s"/tmp/streamscale_qual$mult/quality", b.toDF("doc_id", "text"))) {
          scores => emitted += scores.count()
        }
        val t0 = System.nanoTime()
        (0 until 10).foreach { b =>
          input.addData((0 until nd / 10).map { j =>
            val (id, tx) = qDocs((b * (nd / 10) + j) % qDocs.length)
            EventStream.DocText(id + 1000000L * (b + 1), tx)
          })
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_quality_nb_${mult}x docs=$nd " +
          f"time=$sec%.1fs docsPerSec=${nd / sec}%.1f scored=$emitted")
      }
      // CF recommendation serving (r15): the model trains from the
      // mult× user base ONCE; each streamed request batch explodes
      // its own history snapshot and joins the catalog²-bounded
      // model — requests/s against a model whose size is
      // user-count-INDEPENDENT (pairs cap at catalog² support) is
      // the story
      locally {
        val cfDir = s"/tmp/streamscale_cf$mult/cf"
        val interN = graft.operators.Recommend.interactions(
          (0 until mult).map { i =>
            graft.Tables.events(spark, d)
              .withColumn("user_id", col("user_id") + lit(i * 1000000L))
          }.reduce(_ unionByName _))
        graft.operators.Recommend.writeCfModel(interN, cfDir)
        val hist = graft.operators.Recommend
          .interactions(graft.Tables.events(spark, d))
          .as[(Long, Long)].collect().groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (u, rs) =>
            EventStream.RecRequest(u, rs.map(_._2).sorted.toSeq) }
        val input = MemoryStream[EventStream.RecRequest]
        var emitted = 0L
        val q = EventStream.streamingRecommend(input.toDS(), cfDir) {
          recs => emitted += recs.count()
        }
        val per = math.max(1, hist.length / 10)
        val nq = per * 10
        val t0 = System.nanoTime()
        (0 until 10).foreach { b =>
          input.addData(hist.slice(b * per, (b + 1) * per))
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_recommend_${mult}x reqs=$nq " +
          f"time=$sec%.1fs reqsPerSec=${nq / sec}%.1f recs=$emitted")
      }
      // Markov next-item serving (r16): the transition model trains
      // from the mult× user base once (catalog²-support-bounded, so
      // its size is user-count-independent); each streamed request
      // batch semi-join-prunes the model to its context items —
      // requests/s against the grown training base is the story
      locally {
        val mkDir = s"/tmp/streamscale_mk$mult/mk"
        graft.operators.Recommend.writeMarkovModel(
          (0 until mult).map { i =>
            graft.Tables.events(spark, d)
              .withColumn("user_id", col("user_id") + lit(i * 1000000L))
              .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
          }.reduce(_ unionByName _), mkDir)
        val reqs = (0L until 200L).map(i =>
          EventStream.NextRequest(800L + i, i % 50))
        val input = MemoryStream[EventStream.NextRequest]
        var emitted = 0L
        val q = EventStream.serveEachBatch(input.toDS())(b =>
          graft.operators.Recommend.markovNextServeBatch(b.sparkSession, mkDir,
            b.toDF("user_id", "item"), 5)) {
          recs => emitted += recs.count()
        }
        val t0 = System.nanoTime()
        (0 until 10).foreach { b =>
          input.addData(reqs.slice(b * 20, (b + 1) * 20))
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_markov_${mult}x reqs=200 " +
          f"time=$sec%.1fs reqsPerSec=${200 / sec}%.1f recs=$emitted")
      }
      // HYBRID fused serving (r17): BOTH stored models trained from
      // the mult× user base (each catalog²-support-bounded); every
      // request batch pays the CF history-item prune + the Markov
      // context prune + a per-user fusion over ≤ 2·depth rows —
      // fused requests/s against the grown training base is the
      // story (the fusion itself is batch-bounded)
      locally {
        val cfDir = s"/tmp/streamscale_cf$mult/cf" // written above
        val mkDir = s"/tmp/streamscale_mk$mult/mk" // written above
        val reqs = graft.operators.Recommend
          .interactions(graft.Tables.events(spark, d))
          .as[(Long, Long)].collect().groupBy(_._1).toSeq.sortBy(_._1)
          .take(50)
          .map { case (u, rs) =>
            val items = rs.map(_._2).sorted.toSeq
            EventStream.HybridRequest(u, items, items.max) }
        val input = MemoryStream[EventStream.HybridRequest]
        var emitted = 0L
        val q = EventStream.streamingHybridRecommend(input.toDS(),
            cfDir, mkDir) {
          recs => emitted += recs.count()
        }
        val per = math.max(1, reqs.length / 10)
        val nq = per * 10
        val t0 = System.nanoTime()
        (0 until 10).foreach { b =>
          input.addData(reqs.slice(b * per, (b + 1) * per))
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_hybrid_${mult}x reqs=$nq " +
          f"time=$sec%.1fs reqsPerSec=${nq / sec}%.1f recs=$emitted")
      }
      // streaming Holt-Winters (r15): mult×100 independent series
      // advance one closed day per micro-batch — state is exactly 9
      // BIGINTs per seeded series (bounded by construction), so
      // rows/s at a growing series count is the story
      locally {
        val nSeries = mult * 100
        val base = java.time.LocalDate.parse("2024-01-01")
        val input = MemoryStream[EventStream.DayCount]
        var emitted = 0L
        val q = EventStream.streamingHoltWinters(input.toDS()).writeStream
          .outputMode(OutputMode.Append)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[EventStream.HwFit], _: Long) =>
              emitted += b.count(); ()
          }
          .start()
        val t0 = System.nanoTime()
        (0 until 30).foreach { day =>
          input.addData((0 until nSeries).map { sid =>
            EventStream.DayCount(s"s$sid",
              java.sql.Date.valueOf(base.plusDays(day)),
              100L + (sid + day * 3) % 17)
          })
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_holt_winters_${mult}x series=$nSeries " +
          f"rows=${30L * nSeries} time=$sec%.1fs " +
          f"rowsPerSec=${30L * nSeries / sec}%.1f fits=$emitted")
      }
    }

    // state-FREE serving path: the per-batch probe reads ONLY the
    // probed bucket partitions (bucket.isin over the partitioned
    // layout), so per-batch cost must track nprobe×queries, NOT
    // corpus size. Measured directly: the same query stream is run
    // against the 1× corpus AND a mult×-replicated corpus — the qps
    // ratio is the pruning's scorecard (an unpruned scan would slow
    // down ~mult×; the pruned probe only pays the larger probed
    // buckets, ~linear in bucket occupancy but never the full scan).
    locally {
      val d = "/root/testdata/sf0.1"
      import org.apache.spark.sql.functions.{col, lit}
      val emb1 = graft.Tables.embeddings(spark, d)
      val cents = graft.operators.Similarity.ivfCentroids(spark, d)
      val embN = (0 until mult).map { i =>
        emb1.withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
      }.reduce(_ unionByName _)
      val qVecs = emb1
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      val nq = math.min(mult * 100L, qVecs.length.toLong).toInt
      def serve(ivfDir: String, tag: String): Double = {
        val input = MemoryStream[EventStream.QueryVec]
        var emitted = 0L
        val q = EventStream.serveEachBatch(input.toDS())(b =>
          graft.operators.Similarity.annIvfServeBatch(b.sparkSession, ivfDir,
            cents, b.toDF("query_id", "embedding"))) {
          topk => emitted += topk.count()
        }
        val t0 = System.nanoTime()
        val qBatches = 10
        (0 until qBatches).foreach { b =>
          val rows = (0 until nq / qBatches).map { j =>
            val (id, v) = qVecs((b * (nq / qBatches) + j) % qVecs.length)
            EventStream.QueryVec(id + 1000000L * (b + 1), v)
          }
          input.addData(rows)
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_ann_ivf_$tag queries=$nq time=$sec%.1fs " +
          f"qps=${nq / sec}%.1f topkRows=$emitted")
        sec
      }
      graft.operators.Similarity.writeLayout(
        graft.operators.Similarity.FloatCodec(cents), emb1, "/tmp/streamscale_ivf1")
      graft.operators.Similarity.writeLayout(
        graft.operators.Similarity.FloatCodec(cents), embN, s"/tmp/streamscale_ivf$mult")
      val s1 = serve("/tmp/streamscale_ivf1", "corpus1x")
      val sN = serve(s"/tmp/streamscale_ivf$mult", s"corpus${mult}x")
      println(f"SCALE stream_ann_ivf_${mult}x_vs_1x slowdown=${sN / s1}%.2f " +
        f"(unpruned would be ~${mult}x)")

      // whitened serving (r14): the same pruned-probe scorecard over
      // the exact-integer whitened code layout — queries whiten
      // map-side under the shipped model, the scan reads only the
      // probed buckets
      locally {
        val wm = graft.operators.Similarity.whitenModel(spark, d)
        def whiteServe(dir: String, tag: String): Double = {
          val input = MemoryStream[EventStream.QueryVec]
          var emitted = 0L
          val q = EventStream.serveEachBatch(input.toDS())(b =>
            graft.operators.Similarity.annIvfWhiteServeBatch(b.sparkSession,
              dir, wm, b.toDF("query_id", "embedding"))) {
            topk => emitted += topk.count()
          }
          val t0 = System.nanoTime()
          val qBatches = 10
          (0 until qBatches).foreach { b =>
            val rows = (0 until nq / qBatches).map { j =>
              val (id, v) = qVecs((b * (nq / qBatches) + j) % qVecs.length)
              EventStream.QueryVec(id + 1000000L * (b + 1), v)
            }
            input.addData(rows)
            q.processAllAvailable()
          }
          val sec = (System.nanoTime() - t0) / 1e9
          q.stop()
          println(f"SCALE stream_ann_ivf_white_$tag queries=$nq " +
            f"time=$sec%.1fs qps=${nq / sec}%.1f topkRows=$emitted")
          sec
        }
        graft.operators.Similarity.writeLayout(wm, emb1, "/tmp/streamscale_white1")
        graft.operators.Similarity.writeLayout(wm, embN, s"/tmp/streamscale_white$mult")
        val w1 = whiteServe("/tmp/streamscale_white1", "corpus1x")
        val wN = whiteServe(s"/tmp/streamscale_white$mult", s"corpus${mult}x")
        println(f"SCALE stream_ann_ivf_white_${mult}x_vs_1x " +
          f"slowdown=${wN / w1}%.2f (unpruned would be ~${mult}x)")
      }

      // graph-walk serving (r13): per-batch beam walk over the stored
      // kNN-graph artifact — edge reads pruned to the frontier's _eb
      // partitions, node fetches amortized over the batch; a mult×
      // graph must not cost ~mult× per batch
      locally {
        def walkServe(dir: String, tag: String): Double = {
          val input = MemoryStream[EventStream.QueryVec]
          var emitted = 0L
          val q = EventStream.serveEachBatch(input.toDS())(b =>
            graft.operators.Similarity.annGraphWalkServeBatch(b.sparkSession,
              dir, b.toDF("query_id", "embedding"))) {
            topk => emitted += topk.count()
          }
          val t0 = System.nanoTime()
          val nq = math.min(200, qVecs.length)
          (0 until 5).foreach { b =>
            input.addData((0 until nq / 5).map { j =>
              val (id, v) = qVecs((b * (nq / 5) + j) % qVecs.length)
              EventStream.QueryVec(id + 1000000L * (b + 1), v)
            })
            q.processAllAvailable()
          }
          val sec = (System.nanoTime() - t0) / 1e9
          q.stop()
          println(f"SCALE stream_graph_walk_$tag queries=$nq time=$sec%.1fs " +
            f"qps=${nq / sec}%.1f topkRows=$emitted")
          sec
        }
        graft.operators.Similarity.writeKnnGraph(emb1, cents,
          "/tmp/streamscale_gw1", k = 8)
        graft.operators.Similarity.writeKnnGraph(embN,
          graft.operators.Similarity.ivfCentroids(spark, d, 32 * mult),
          s"/tmp/streamscale_gw$mult", k = 8)
        val g1 = walkServe("/tmp/streamscale_gw1", "corpus1x")
        val gN = walkServe(s"/tmp/streamscale_gw$mult", s"corpus${mult}x")
        println(f"SCALE stream_graph_walk_${mult}x_vs_1x " +
          f"slowdown=${gN / g1}%.2f (unpruned would approach ~${mult}x)")
      }

      // the composed SQ8 serving stack: same pruned per-batch probe
      // over 1-byte/dim stored codes (partition-pruned scan + per-row
      // dequantize + asymmetric rerank)
      val sq8Dir = "/tmp/streamscale_ivfsq8"
      val sq8 = locally {
        val (mns, mxs) = graft.operators.Similarity.sq8Grid(emb1)
        graft.operators.Similarity.writeLayout(
          graft.operators.Similarity.Sq8Codec(cents, mns, mxs), emb1, sq8Dir)
      }
      locally {
        val input = MemoryStream[EventStream.QueryVec]
        var emitted = 0L
        val q = EventStream.serveEachBatch(input.toDS())(b =>
          graft.operators.Similarity.annIvfSq8ServeBatch(b.sparkSession,
            sq8Dir, sq8, b.toDF("query_id", "embedding"))) {
          topk => emitted += topk.count()
        }
        val t0 = System.nanoTime()
        (0 until 10).foreach { b =>
          val rows = (0 until nq / 10).map { j =>
            val (id, v) = qVecs((b * (nq / 10) + j) % qVecs.length)
            EventStream.QueryVec(id + 1000000L * (b + 1), v)
          }
          input.addData(rows)
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_ann_ivf_sq8 queries=$nq time=$sec%.1fs " +
          f"qps=${nq / sec}%.1f topkRows=$emitted")
      }

      // FILTERED serving (r12): same pruned probe over the
      // attribute-carrying layout, with the batch's label set PUSHED
      // into the scan — per-batch cost must track probes × the
      // predicate's selectivity share of bucket occupancy, never the
      // corpus; same 1× vs mult× slowdown scorecard
      locally {
        val qLab = emb1
          .select(col("vec_id"), col("embedding"), col("label"))
          .as[(Long, Array[Float], Int)].collect()
        def serveF(dir: String, tag: String): Double = {
          val input = MemoryStream[EventStream.QueryVecLabeled]
          var emitted = 0L
          val q = EventStream.serveEachBatch(input.toDS())(b =>
            graft.operators.Similarity.annIvfFilteredServeBatch(b.sparkSession,
              dir, graft.operators.Similarity.LabeledCodec(cents),
              b.toDF("query_id", "embedding", "label"))) {
            topk => emitted += topk.count()
          }
          val t0 = System.nanoTime()
          (0 until 10).foreach { b =>
            val rows = (0 until nq / 10).map { j =>
              val (id, v, lb) = qLab((b * (nq / 10) + j) % qLab.length)
              EventStream.QueryVecLabeled(id + 1000000L * (b + 1), v, lb)
            }
            input.addData(rows)
            q.processAllAvailable()
          }
          val sec = (System.nanoTime() - t0) / 1e9
          q.stop()
          println(f"SCALE stream_ann_ivf_filtered_$tag queries=$nq " +
            f"time=$sec%.1fs qps=${nq / sec}%.1f topkRows=$emitted")
          sec
        }
        graft.operators.Similarity.writeLayout(
          graft.operators.Similarity.LabeledCodec(cents), emb1, "/tmp/streamscale_ivff1")
        graft.operators.Similarity.writeLayout(
          graft.operators.Similarity.LabeledCodec(cents), embN, s"/tmp/streamscale_ivff$mult")
        val f1 = serveF("/tmp/streamscale_ivff1", "corpus1x")
        val fN = serveF(s"/tmp/streamscale_ivff$mult", s"corpus${mult}x")
        println(f"SCALE stream_ann_ivf_filtered_${mult}x_vs_1x " +
          f"slowdown=${fN / f1}%.2f (unpruned would be ~${mult}x)")
      }
    }

    // ---- streamingBm25TopK: pruned lexical serving ------------------
    // same scorecard as the ANN rows: the per-batch probe reads only
    // the batch's term buckets, so a mult× corpus must cost far
    // less than mult× per batch (probed posting lists grow with the
    // corpus; the unprobed vocabulary never enters the scan)
    locally {
      val d = "/root/testdata/sf0.1"
      import org.apache.spark.sql.functions.{col, lit}
      val docs1 = graft.Tables.documents(spark, d)
      val docsN = (0 until mult).map { i =>
        docs1.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
      }.reduce(_ unionByName _)
      val nq = 200
      val queryPool = graft.operators.Search.BmQueries
      def serve(invDir: String, tag: String): Double = {
        val input = MemoryStream[EventStream.QueryTerms]
        var emitted = 0L
        val q = EventStream.streamingBm25TopK(input.toDS(), invDir) {
          topk => emitted += topk.count() }
        val t0 = System.nanoTime()
        (0 until 10).foreach { b =>
          input.addData((0 until nq / 10).map { j =>
            val (id, ts) = queryPool((b * (nq / 10) + j) % queryPool.length)
            EventStream.QueryTerms(id + 1000L * (b + 1), ts)
          })
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_bm25_$tag queries=$nq time=$sec%.1fs " +
          f"qps=${nq / sec}%.1f topkRows=$emitted")
        sec
      }
      graft.operators.Search
        .writeInvertedIndexBucketed(docs1, "/tmp/streamscale_inv1")
      graft.operators.Search
        .writeInvertedIndexBucketed(docsN, s"/tmp/streamscale_inv$mult")
      val s1 = serve("/tmp/streamscale_inv1", "corpus1x")
      val sN = serve(s"/tmp/streamscale_inv$mult", s"corpus${mult}x")
      println(f"SCALE stream_bm25_${mult}x_vs_1x slowdown=${sN / s1}%.2f " +
        f"(unpruned would approach ~${mult}x)")
    }

    // ---- streamingBm25TopK over the ZIPF bucketed layout ------------
    // the realistic-vocabulary form of the row above: 10k Zipf terms,
    // query terms spanning head/torso/tail — streamed serving must
    // stay sublinear in the corpus exactly like the batch serve rows
    locally {
      val zdocs1 = graft.Scale10.zipfDocs(spark, 5000L, 120, 10000)
        .localCheckpoint()
      val zdocsN = graft.Scale10.zipfDocs(spark, 5000L * mult, 120, 10000)
        .localCheckpoint()
      val pool = Seq(
        Seq("w0", "w150", "w4000"), Seq("w3", "w800", "w7000"),
        Seq("w10", "w300", "w9000"), Seq("w1", "w500", "w6000"))
      val nq = 100
      def serve(invDir: String, tag: String): Double = {
        val input = MemoryStream[EventStream.QueryTerms]
        var emitted = 0L
        val q = EventStream.streamingBm25TopK(input.toDS(), invDir) {
          topk => emitted += topk.count() }
        val t0 = System.nanoTime()
        (0 until 5).foreach { b =>
          input.addData((0 until nq / 5).map { j =>
            EventStream.QueryTerms(1000L * (b + 1) + j,
              pool((b * (nq / 5) + j) % pool.length))
          })
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_bm25_zipf_$tag queries=$nq time=$sec%.1fs " +
          f"qps=${nq / sec}%.1f topkRows=$emitted")
        sec
      }
      graft.operators.Search
        .writeInvertedIndexBucketed(zdocs1, "/tmp/streamscale_zinv1")
      graft.operators.Search
        .writeInvertedIndexBucketed(zdocsN, s"/tmp/streamscale_zinv$mult")
      val s1 = serve("/tmp/streamscale_zinv1", "corpus1x")
      val sN = serve(s"/tmp/streamscale_zinv$mult", s"corpus${mult}x")
      println(f"SCALE stream_bm25_zipf_${mult}x_vs_1x slowdown=${sN / s1}%.2f " +
        f"(unpruned would approach ~${mult}x)")
    }

    // ---- streamingNgramNovelty against a stored shingle artifact ----
    // the serve form broadcasts the BATCH side, so the artifact
    // streams map-side with NO shuffle — per-batch cost is one
    // artifact scan (linear in artifact size by design; the 100 TB
    // mitigation in front of the scan is the Bloom bit-set). The
    // mult× artifact suffixes shingles per replica so the DISTINCT
    // set genuinely grows mult× (plain replication dedups away).
    locally {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val d = "/root/testdata/sf0.1"
      val docs = graft.Tables.documents(spark, d)
      val sh1 = graft.operators.Dedup
        .shingles(docs.filter(col("doc_id") % 5 =!= 0), 3)
        .select(col("shingle")).distinct()
      val shN = (sh1 +: (1 until mult).map(i =>
        sh1.select(concat(col("shingle"), lit(s" r$i")).as("shingle"))))
        .reduce(_ unionByName _)
      sh1.write.mode("overwrite").parquet("/tmp/streamscale_nov1")
      shN.write.mode("overwrite").parquet(s"/tmp/streamscale_nov$mult")
      val evalDocs = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect()
        .map { case (id, t) => EventStream.DocText(id, t) }
      def serve(dir: String, tag: String): Double = {
        val input = MemoryStream[EventStream.DocText]
        var emitted = 0L
        val q = EventStream.streamingNgramNovelty(input.toDS(),
          spark.read.parquet(dir)) { df => emitted += df.count() }
        val t0 = System.nanoTime()
        val batches = 5
        (0 until batches).foreach { b =>
          input.addData(evalDocs.zipWithIndex
            .filter(_._2 % batches == b).map(_._1).toSeq)
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"SCALE stream_novelty_$tag docs=${evalDocs.length} " +
          f"time=$sec%.1fs perBatch=${sec / batches}%.2fs rows=$emitted")
        sec
      }
      val s1 = serve("/tmp/streamscale_nov1", "corpus1x")
      val sN = serve(s"/tmp/streamscale_nov$mult", s"corpus${mult}x")
      println(f"SCALE stream_novelty_${mult}x_vs_1x slowdown=${sN / s1}%.2f " +
        s"(one artifact scan per batch — linear by design, shuffle-free)")
    }
    spark.stop()
  }
}
