package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-18 piecewise profiler: times the sub-steps of the bench's most
  * expensive entries so optimization targets the real cost, not the
  * guessed one. Usage: runMain graft.tools.ProfileR18 <sfDir> <section...>
  * Sections: hybrid zorder iop mb mv multimodal stream
  */
object ProfileR18 {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sections = if (args.length > 1) args.tail.toSet else Set("all")
    def on(s: String) = sections.contains("all") || sections.contains(s)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    if (on("hybrid")) for (pass <- 1 to 3) {
      t(s"hybrid p$pass full xHybridSearch") {
        graft.ops.KeywordQueries.xHybridSearch(spark, d).count()
      }
      t(s"hybrid p$pass full xHybridSearchAnn") {
        graft.ops.KeywordQueries.xHybridSearchAnn(spark, d).count()
      }
      t(s"hybrid p$pass xKeywordBm25") {
        graft.ops.KeywordQueries.xKeywordBm25(spark, d).count()
      }
    }

    if (on("zorder")) for (pass <- 1 to 3) {
      t(s"zorder p$pass full entry") {
        graft.ops.MatQueries.xZorderBox(spark, d).count()
      }
      val li = spark.read.parquet(s"$d/lineitem.parquet")
      t(s"zorder p$pass bounds+layout compute only") {
        noop(graft.core.ZOrder.layout(li, Seq("l_partkey", "l_suppkey")))
      }
    }

    if (on("iop")) for (pass <- 1 to 3) {
      t(s"iop p$pass o_insert_overwrite_pruned") {
        graft.ops.OrchestratorQueries.insertOverwritePruned(spark, d).count()
      }
    }
    if (on("mb")) for (pass <- 1 to 3) {
      t(s"mb p$pass o_microbatch") {
        graft.ops.OrchestratorQueries.microbatchModel(spark, d).count()
      }
    }
    if (on("mv")) for (pass <- 1 to 3) {
      t(s"mv p$pass x_mv_avg") {
        graft.ops.MatQueries.xMvAvg(spark, d).count()
      }
      t(s"mv p$pass o_mv_avg_model") {
        graft.ops.OrchestratorQueries.mvAvgModel(spark, d).count()
      }
      t(s"mv p$pass x_agg_view") {
        graft.ops.MatQueries.xAggView(spark, d).count()
      }
    }
    if (on("multimodal")) for (pass <- 1 to 3) {
      t(s"mm p$pass x_multimodal_meta") {
        graft.ops.Multimodal.mediaMeta(spark, d).count()
      }
      t(s"mm p$pass x_media_features") {
        graft.ops.Multimodal.mediaFeatures(spark, d).count()
      }
      t(s"mm p$pass x_frame_sample") {
        graft.ops.Multimodal.frameSample(spark, d).count()
      }
    }
    if (on("stream")) for (pass <- 1 to 3) {
      t(s"stream p$pass st_stream_join_equiv") {
        graft.streaming.StreamingJobs.streamJoinEquiv(spark, d).count()
      }
      println("[profile] staged: " +
        graft.ops.SessionCache.drainStaging(spark).map {
          case (k, v) => f"$k=$v%.2f" }.mkString(", "))
    }
    if (on("text")) for (pass <- 1 to 3) {
      t(s"text p$pass x_lm_score") {
        graft.ops.TextOps.lmScore(spark, d).count()
      }
      t(s"text p$pass x_ccnet_buckets") {
        graft.ops.TextOps.ccnetBuckets(spark, d).count()
      }
      t(s"text p$pass x_pretraining_pipeline") {
        graft.ops.TextOps.pretrainingPipeline(spark, d).count()
      }
      t(s"text p$pass x_dup_ngram_coverage") {
        graft.ops.TextOps.dupNgramCoverage(spark, d).count()
      }
      println("[profile] staged: " +
        graft.ops.SessionCache.drainStaging(spark).map {
          case (k, v) => f"$k=$v%.2f" }.mkString(", "))
    }
    if (on("builds")) {
      import graft.core.{Relation, Warehouse}
      val wh = new Warehouse(spark, java.nio.file.Files
        .createTempDirectory("prof_builds").toString)
      val docs = graft.ops.TData.documents(spark, d)
      // two builds each: #1 carries the JVM's cold codegen/committer
      // cost, #2 is the warm build cost
      for (i <- 1 to 2)
        t(s"kw index build #$i") {
          new graft.ops.KeywordIndex(wh, s"pdocs$i").build(docs)
        }
      val vecs = graft.ops.Similarity.vecs(spark, d)
      for (i <- 1 to 2)
        t(s"ann index build #$i") {
          new graft.ops.Similarity.VectorIndex(wh, s"phyb$i", k = 16,
            nprobe = 6, maxProbe = 10, probeMargin = 0.1).build(vecs)
        }
      val tiny = spark.range(1000).toDF("id")
      for (i <- 1 to 5)
        t(s"writeAtomic tiny #$i") {
          wh.writeAtomic(tiny, Relation("an", "ma", s"tiny_$i"))
        }
      val tiny1 = tiny.coalesce(1)
      for (i <- 1 to 5)
        t(s"writeAtomic tiny coalesced #$i") {
          wh.writeAtomic(tiny1, Relation("an", "ma", s"tinyc_$i"))
        }
      spark.conf.set("graft.stats.enabled", "false")
      for (i <- 1 to 3)
        t(s"writeAtomic tiny nostats #$i") {
          wh.writeAtomic(tiny, Relation("an", "ma", s"tinyn_$i"))
        }
      spark.conf.unset("graft.stats.enabled")
      for (i <- 1 to 3)
        t(s"noop tiny #$i") { noop(tiny) }
      for (i <- 1 to 3)
        t(s"plain parquet write tiny #$i") {
          tiny.write.mode("overwrite")
            .parquet(wh.path(Relation("an", "ma", s"plain_$i")) + "_raw")
        }
      val post = docs.select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
        .filter(length(col("term")) > 0).distinct()
        .withColumn("tb", pmod(hash(col("term")), lit(16)))
      for (i <- 1 to 2)
        t(s"writeAtomic postings partitioned #$i") {
          wh.writeAtomic(post, Relation("an", "ma", s"post_$i"),
            partitionCols = Seq("tb"))
        }
    }
    if (on("rebal")) {
      // A/B the write-sizing modes in ONE window: representative entries
      // are an engine model write (o_star_select), a multi-append
      // pipeline (x_dedup_incremental_fuzzy), an MV maintenance chain
      // (x_agg_view) and b5's upsert rewrite.
      for (mode <- Seq("false", "auto", "always", "false", "auto"); pass <- 1 to 3) {
        spark.conf.set("graft.write.rebalance", mode)
        t(s"rebal=$mode p$pass o_star_select") {
          graft.ops.OrchestratorQueries.starSelect(spark, d).count()
        }
        t(s"rebal=$mode p$pass b5_delete_insert") {
          graft.ops.MatQueries.b5DeleteInsert(spark, d).count()
        }
        t(s"rebal=$mode p$pass x_agg_view") {
          graft.ops.MatQueries.xAggView(spark, d).count()
        }
        t(s"rebal=$mode p$pass x_dedup_incremental_fuzzy") {
          graft.ops.TextOps.dedupIncrementalFuzzy(spark, d).count()
        }
      }
      spark.conf.unset("graft.write.rebalance")
    }
    if (on("jobs")) {
      // per-job trace of one warm o_insert_overwrite_pruned run: counts
      // the control-plane jobs an engine double-build issues
      graft.ops.OrchestratorQueries.insertOverwritePruned(spark, d).count()
      val t0s = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      @volatile var trace = true
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            t0s.put(e.jobId, System.nanoTime())
            if (trace) {
              import scala.jdk.CollectionConverters._
              val stages = e.stageInfos.map(_.name).mkString(" | ")
              println(s"[jobstart] #${e.jobId} $stages")
            }
          }
          override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            if (trace) Option(t0s.get(e.jobId)).foreach { t0 =>
              println(f"[jobend] #${e.jobId}%4d ${(System.nanoTime()-t0)/1e9}%6.3f s")
            }
        })
      t("o_insert_overwrite_pruned traced") {
        graft.ops.OrchestratorQueries.insertOverwritePruned(spark, d).count()
      }
      trace = false
    }
    if (on("snap")) for (pass <- 1 to 3) {
      t(s"snap p$pass b11_snapshot_timestamp") {
        graft.ops.MatQueries.b11SnapshotTimestamp(spark, d).count()
      }
      t(s"snap p$pass b_snapshot_new_record") {
        graft.ops.MatQueries.bSnapshotNewRecord(spark, d).count()
      }
    }
    spark.stop()
  }
}
