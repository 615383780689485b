package graft.tools

import org.apache.spark.sql.functions._

/** Scale-evidence probes that measure INTERNAL volumes the wall-clock
  * soak can only argue about (VERDICT r8 items 5-6).
  *
  * {{{
  * sbt "runMain graft.tools.ScaleProbe fuzzy dir1 dir2 ..."
  *   — candidate-pair volume of the fuzzy join's production blocking
  *     frame per tier: Σ over blocking keys of c·(c−1)/2 (the exact
  *     pair count the bk self-join produces before the canonical/
  *     distance filters). Linear growth across tiers proves the 36·n
  *     shuffle-floor argument; superlinear means the key domain is
  *     saturating and the blocking key needs widening.
  *
  * sbt "runMain graft.tools.ScaleProbe embrecall dir bands1 bands2 ..."
  *   — embedding-dedup pairs found per band count at the corpus-
  *     calibrated band width, with wall time. Recall is reported
  *     relative to the widest sweep point (more bands only ADD candidate
  *     coverage, so the widest setting is the best available proxy for
  *     the full pair set without an n² ground-truth pass).
  *
  * sbt "runMain graft.tools.ScaleProbe containbytes dir1 dir2 ..."
  *   — q_dedup_containment's total shuffle WRITE bytes and wall time,
  *     with and without the index-side Bloom prune (VERDICT r9 task 6),
  *     plus the row count as the result-invariance witness. Shuffle
  *     bytes come from a SparkListener summing per-task shuffle write
  *     metrics — the quantity the prune exists to cut.
  * }}}
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val spark = graft.engine.Session()
    spark.range(1000000).selectExpr("sum(id)").collect()
    mode match {
      case "fuzzy" =>
        args.drop(1).foreach { dir =>
          val t0 = System.nanoTime()
          val row = graft.operators.Joins.fuzzyBlocked(spark, dir)
            .groupBy(col("bk")).agg(count(lit(1)).as("c"))
            .agg(sum(col("c") * (col("c") - 1) / 2).cast("long").as("cand"),
              count(lit(1)).as("n_keys"), max(col("c")).as("max_occ"))
            .head()
          val n = graft.engine.Tables.customer(spark, dir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"[probe] fuzzy $dir: customers=$n%,d candidates=${row.getLong(0)}%,d " +
            f"distinct_bk=${row.getLong(1)}%,d max_occupancy=${row.getLong(2)}%,d " +
            f"cand_per_cust=${row.getLong(0).toDouble / n}%.2f (${dt}%.1f s)")
        }
      case "embrecall" =>
        val dir = args(1)
        val sweeps = args.drop(2).map(_.toInt)
        val found = sweeps.map { b =>
          val t0 = System.nanoTime()
          val pairs = graft.operators.Similarity
            .dedupEmbeddingWith(spark, dir, b).count()
          val dt = (System.nanoTime() - t0) / 1e9
          try spark.catalog.clearCache() catch { case _: Throwable => () }
          println(f"[probe] embrecall $dir bands=$b: pairs=$pairs%,d (${dt}%.1f s)")
          b -> pairs
        }
        val base = found.map(_._2).max.toDouble
        found.foreach { case (b, p) =>
          println(f"[probe] embrecall $dir bands=$b: relative_recall=${p / base * 100}%.1f%%")
        }
      case "containbytes" =>
        // per-task shuffle-write accumulator; reset between variants
        val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
        val recs = new java.util.concurrent.atomic.AtomicLong(0L)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onTaskEnd(
                t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
              if (t.taskMetrics != null) {
                bytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
                recs.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
              }
          })
        args.drop(1).foreach { dir =>
          Seq(false, true).foreach { prune =>
            // warm pass so parquet/codegen costs don't skew wall time
            graft.operators.Dedup.dedupContainmentWith(spark, dir, prune).count()
            try spark.catalog.clearCache() catch { case _: Throwable => () }
            bytes.set(0L); recs.set(0L)
            val t0 = System.nanoTime()
            val n = graft.operators.Dedup
              .dedupContainmentWith(spark, dir, prune).count()
            val dt = (System.nanoTime() - t0) / 1e9
            // listener events drain asynchronously; settle before reading
            // (the bus API is private[spark] — a bounded sleep is the
            // probe-grade substitute)
            Thread.sleep(1500)
            try spark.catalog.clearCache() catch { case _: Throwable => () }
            println(f"[probe] containbytes $dir bloom=$prune: " +
              f"shuffle_bytes=${bytes.get()}%,d shuffle_rows=${recs.get()}%,d " +
              f"result_rows=$n%,d (${dt}%.1f s)")
          }
        }
      case "containcover" =>
        // why the Bloom prune is (or isn't) moot: what fraction of the
        // index side's DISTINCT shingles — and, the quantity that pays,
        // POSTING ROWS — the probe-prefix shingle set covers
        args.drop(1).foreach { dir =>
          val r = graft.operators.Dedup.containmentCoverage(spark, dir)
          println(s"[probe] containcover $dir: $r")
        }
      case "facetscan" =>
        // X295/X296 evidence (VERDICT r13 tasks 1 + 3): wide-scan
        // throughput of the DSv2 read facet vs TableCommit.read vs the
        // raw spark.read.parquet floor, on a committed table built
        // from `dir`'s lineitem — CLEAN, then 1%-CLUSTERED-deleted,
        // then 1%-SCATTERED-deleted (the span fast path's worst case).
        // Reports medians of 3 so one GC pause can't adjudicate.
        val dir = args(1)
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("k", LongType), StructField("qty", DoubleType),
          StructField("price", DoubleType), StructField("s", StringType)))
        val root = graft.engine.TempWarehouse
          .createManaged("graft_facetscan_") + "/t"
        val src = graft.engine.Tables.lineitem(spark, dir)
          .select(monotonically_increasing_id().as("k"),
            col("l_quantity").cast("double").as("qty"),
            col("l_extendedprice").cast("double").as("price"),
            concat(col("l_returnflag"), lit("|"), col("l_linestatus"),
              lit("|"), col("l_shipdate").cast("string")).as("s"))
        // range-laid-out by k so the "clustered" delete's victims are
        // physically contiguous in ONE file — the span fast path's
        // best case, beside the scattered pass's worst case
        graft.engine.TableCommit.commitAppend(
          src.repartitionByRange(32, col("k"))
            .sortWithinPartitions("k"), root, retain = 8)
        val n = graft.engine.TableCommit
          .read(spark, root, schema).count()
        def facet() = spark.read.format("graft-table").schema(schema)
          .option("root", root).load()
        def engine() = graft.engine.TableCommit.read(spark, root, schema)
        def agg(df: org.apache.spark.sql.DataFrame): Unit = {
          df.agg(sum(col("qty")), sum(col("price")),
            sum(length(col("s"))), count(lit(1))).collect()
          ()
        }
        def med(f: () => Unit): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
        def report(tag: String): Unit = {
          val paths = graft.engine.TableCommit.entries(root)
            .map(e => s"$root/${e.path}")
          val raw = med(() => agg(spark.read.schema(schema)
            .parquet(paths: _*)))
          val eng = med(() => agg(engine()))
          val fac = med(() => agg(facet()))
          val cnt = med(() => { engine().count(); () })
          val cntF = med(() => { facet().count(); () })
          println(f"[probe] facetscan $tag rows=$n%,d: raw_parquet=$raw%.2f s " +
            f"engine=$eng%.2f s facet=$fac%.2f s facet/engine=${fac / eng}%.2f " +
            f"count_engine=$cnt%.2f s count_facet=$cntF%.2f s")
        }
        // first pass untimed: codegen + page-cache warm
        agg(engine()); agg(facet())
        report("clean")
        // 1% CLUSTERED damage: one contiguous stripe of ids
        graft.engine.TableCommit.commitDeleteRows(spark, root, schema,
          col("k") < (n / 100L), retain = 8)
        agg(engine()); agg(facet())
        report("dv_clustered_1pct")
        // additional SCATTERED damage: every 97th row across all files
        graft.engine.TableCommit.commitDeleteRows(spark, root, schema,
          pmod(col("k"), lit(97L)) === 0L, retain = 8)
        agg(engine()); agg(facet())
        report("dv_scattered")
      case "facetscandec" =>
        // VERDICT r14 task 4 evidence: the widened vectorized whitelist
        // — a DECIMAL-bearing schema must scan through the facet at the
        // same parity band as the primitive schema (clean columnar leg
        // AND the DV'd row-view leg).
        val dir = args(1)
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("k", LongType),
          StructField("qty", DecimalType(12, 2)),
          StructField("price", DecimalType(18, 2)),
          StructField("s", StringType)))
        val root = graft.engine.TempWarehouse
          .createManaged("graft_facetdec_") + "/t"
        val src = graft.engine.Tables.lineitem(spark, dir)
          .select(monotonically_increasing_id().as("k"),
            col("l_quantity").cast(DecimalType(12, 2)).as("qty"),
            col("l_extendedprice").cast(DecimalType(18, 2)).as("price"),
            concat(col("l_returnflag"), lit("|"), col("l_linestatus"),
              lit("|"), col("l_shipdate").cast("string")).as("s"))
        graft.engine.TableCommit.commitAppend(
          src.repartitionByRange(32, col("k"))
            .sortWithinPartitions("k"), root, retain = 8)
        val n = graft.engine.TableCommit
          .read(spark, root, schema).count()
        def facet() = spark.read.format("graft-table").schema(schema)
          .option("root", root).load()
        def engine() = graft.engine.TableCommit.read(spark, root, schema)
        def agg(df: org.apache.spark.sql.DataFrame): Unit = {
          df.agg(sum(col("qty")), sum(col("price")),
            sum(length(col("s"))), count(lit(1))).collect()
          ()
        }
        def med(f: () => Unit): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
        def report(tag: String): Unit = {
          val paths = graft.engine.TableCommit.entries(root)
            .map(e => s"$root/${e.path}")
          val raw = med(() => agg(spark.read.schema(schema)
            .parquet(paths: _*)))
          val eng = med(() => agg(engine()))
          val fac = med(() => agg(facet()))
          println(f"[probe] facetscandec $tag rows=$n%,d: " +
            f"raw_parquet=$raw%.2f s engine=$eng%.2f s facet=$fac%.2f s " +
            f"facet/engine=${fac / eng}%.2f facet/raw=${fac / raw}%.2f")
        }
        agg(engine()); agg(facet())
        report("clean")
        graft.engine.TableCommit.commitDeleteRows(spark, root, schema,
          col("k") < (n / 100L), retain = 8)
        graft.engine.TableCommit.commitDeleteRows(spark, root, schema,
          pmod(col("k"), lit(97L)) === 0L, retain = 8)
        agg(engine()); agg(facet())
        report("dv_mixed")
        if (args.length > 2 && args(2) == "explain") {
          val es = graft.engine.TableCommit.entries(root)
          val dvs = es.filter(_.stats.contains(
            graft.engine.TableCommit.DvKey))
          println(s"[probe] files=${es.size} dvFiles=${dvs.size} " +
            s"deletedSum=${dvs.map(graft.engine.TableCommit.deletedCount).sum} " +
            s"supported=${graft.sources.GraftVectorized.supportedSchema(schema)}")
          println("[probe] engine plan:")
          println(engine().queryExecution.executedPlan.toString.take(4000))
        }
      case "rgsplit" =>
        // X309 evidence (VERDICT r14 task 5): DV'd wide scan on a
        // FEW-LARGE-FILES table — row-group splits must keep in-file
        // parallelism, vs the one-task-per-file shape they replace.
        val dir = args(1)
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("k", LongType), StructField("qty", DoubleType),
          StructField("price", DoubleType), StructField("s", StringType)))
        val root = graft.engine.TempWarehouse
          .createManaged("graft_rgsplit_") + "/t"
        val src = graft.engine.Tables.lineitem(spark, dir)
          .select(monotonically_increasing_id().as("k"),
            col("l_quantity").cast("double").as("qty"),
            col("l_extendedprice").cast("double").as("price"),
            concat(col("l_returnflag"), lit("|"), col("l_linestatus"),
              lit("|"), col("l_shipdate").cast("string")).as("s"))
        // FOUR big files, many row groups each (16 MB blocks)
        val hc = spark.sparkContext.hadoopConfiguration
        hc.setInt("parquet.block.size", 16 * 1024 * 1024)
        try graft.engine.TableCommit.commitAppend(
          src.coalesce(4), root, retain = 8)
        finally hc.unset("parquet.block.size")
        val n = graft.engine.TableCommit.read(spark, root, schema).count()
        // scattered damage well above the broadcast threshold, so the
        // snapshot read routes the facet row-view legs
        graft.engine.TableCommit.commitDeleteRows(spark, root, schema,
          pmod(col("k"), lit(11L)) === 0L, retain = 8)
        def eng() = graft.engine.TableCommit.read(spark, root, schema)
        def agg(df: org.apache.spark.sql.DataFrame): Unit = {
          df.agg(sum(col("qty")), sum(col("price")),
            sum(length(col("s"))), count(lit(1))).collect()
          ()
        }
        def med(f: () => Unit): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
        // clean floor: the same bytes, no DVs, spark's own splits
        val paths = graft.engine.TableCommit.entries(root)
          .map(e => s"$root/${e.path}")
        agg(spark.read.schema(schema).parquet(paths: _*))
        val clean = med(() => agg(spark.read.schema(schema)
          .parquet(paths: _*)))
        val seam = graft.sources.GraftBatchScan.splitFooterMin
        try {
          // BEFORE: one task per file (splits off)
          graft.sources.GraftBatchScan.splitFooterMin = Long.MaxValue
          agg(eng())
          val whole = med(() => agg(eng()))
          val wholeParts = eng().rdd.getNumPartitions
          // AFTER: row-group splits (default gate admits 16 MB groups
          // only via the lowered seam — production files are ≥ the
          // 96 MB gate when they are worth splitting)
          graft.sources.GraftBatchScan.splitFooterMin = 1L
          agg(eng())
          val split = med(() => agg(eng()))
          val splitParts = eng().rdd.getNumPartitions
          println(f"[probe] rgsplit rows=$n%,d files=4: clean=$clean%.2f s " +
            f"dv_whole_file=$whole%.2f s ($wholeParts parts) " +
            f"dv_rg_split=$split%.2f s ($splitParts parts) " +
            f"split/clean=${split / clean}%.2f whole/clean=${whole / clean}%.2f")
        } finally graft.sources.GraftBatchScan.splitFooterMin = seam
      case "spj" =>
        // X314 evidence: the storage-partitioned join at 10× — two
        // co-bucketed graft tables (lineitem facts + orders, both
        // partitioned by orderkey%64) joined on (bucket, orderkey).
        // The clustered scans report KeyGroupedPartitioning so the
        // join plans with ZERO exchange; the control reads the SAME
        // tables without clusterby and pays the full two-sided
        // shuffle. Same result row count both ways (the invariance
        // witness); medians of 3.
        val dir = args(1)
        import org.apache.spark.sql.types._
        val base = graft.engine.TempWarehouse.createManaged("graft_spjp_")
        val rA = s"$base/a"; val rB = s"$base/b"
        val fact = graft.engine.Tables.lineitem(spark, dir).select(
          pmod(col("l_orderkey"), lit(64L)).as("g"),
          col("l_orderkey").as("okey"),
          col("l_extendedprice").cast("double").as("price"))
        val dimn = graft.engine.Tables.orders(spark, dir).select(
          pmod(col("o_orderkey"), lit(64L)).as("g"),
          col("o_orderkey").as("okey"),
          col("o_totalprice").cast("double").as("total"))
        graft.engine.TableCommit.commitAppend(
          fact.repartition(64, col("g")), rA, retain = 4,
          statsCols = Seq("g"), partCol = Some("g"))
        graft.engine.TableCommit.commitAppend(
          dimn.repartition(64, col("g")), rB, retain = 4,
          statsCols = Seq("g"), partCol = Some("g"))
        val aSchema = StructType(Seq(StructField("g", LongType),
          StructField("okey", LongType), StructField("price", DoubleType)))
        val bSchema = StructType(Seq(StructField("g", LongType),
          StructField("okey", LongType), StructField("total", DoubleType)))
        def rd(r: String, sch: StructType, clustered: Boolean) = {
          val b = spark.read.format("graft-table").schema(sch)
            .option("root", r)
          (if (clustered) b.option("clusterby", "g") else b).load()
        }
        def joined(clustered: Boolean) = {
          val a = rd(rA, aSchema, clustered)
          val b = rd(rB, bSchema, clustered)
            .withColumnRenamed("g", "g2").withColumnRenamed("okey", "okey2")
          a.join(b, col("g") === col("g2") && col("okey") === col("okey2"))
            .agg(count(lit(1)), sum(col("price") + col("total")))
        }
        def med(f: () => Unit): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
        val nRows = joined(clustered = true).collect()(0).getLong(0)
        assert(joined(clustered = false).collect()(0).getLong(0) == nRows,
          "SPJ and shuffle join disagree on row count")
        val spjT = med(() => { joined(clustered = true).collect(); () })
        val shfT = med(() => { joined(clustered = false).collect(); () })
        val plan = {
          val j = joined(clustered = true); j.collect()
          j.queryExecution.executedPlan.toString
        }
        val spjExchanges = "Exchange".r.findAllMatchIn(
          plan.replace("ExchangeQueryStage", "")).size
        println(f"[probe] spj rows=$nRows%,d buckets=64: " +
          f"spj=$spjT%.2f s shuffle=$shfT%.2f s " +
          f"spj/shuffle=${spjT / shfT}%.2f " +
          s"(final-agg single-partition exchange excluded: " +
          s"join-side exchange count in SPJ plan = " +
          s"${math.max(0, spjExchanges - 1)})")
      case "bucketjoin" =>
        // X320 evidence: the BUCKETED storage-partitioned join at 10×
        // through pure SQL — lineitem facts and orders both
        // PARTITIONED BY (bucket(64, okey)), joined on the raw key.
        // The control is the same data in unpartitioned catalog
        // tables (full two-sided shuffle). Equal counts both ways.
        val dir = args(1)
        val wh = graft.engine.TempWarehouse.createManaged("graft_bktp_")
        spark.conf.set("spark.sql.catalog.gbkt",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gbkt.warehouse", wh)
        // model the 100 TB regime: NO side fits a broadcast (at sf0.1
        // AQE would broadcast the 150k-row orders side in both plans,
        // measuring broadcast-vs-broadcast instead of the exchange)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
          "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        graft.engine.Tables.lineitem(spark, dir).select(
          col("l_orderkey").as("okey"),
          col("l_extendedprice").cast("double").as("price"))
          .createOrReplaceTempView("bktp_l")
        graft.engine.Tables.orders(spark, dir).select(
          col("o_orderkey").as("okey"),
          col("o_totalprice").cast("double").as("total"))
          .createOrReplaceTempView("bktp_o")
        spark.sql("CREATE TABLE gbkt.bl (okey BIGINT, price DOUBLE) " +
          "PARTITIONED BY (bucket(64, okey))")
        spark.sql("CREATE TABLE gbkt.bo (okey BIGINT, total DOUBLE) " +
          "PARTITIONED BY (bucket(64, okey))")
        spark.sql("CREATE TABLE gbkt.ul (okey BIGINT, price DOUBLE)")
        spark.sql("CREATE TABLE gbkt.uo (okey BIGINT, total DOUBLE)")
        spark.sql("INSERT INTO gbkt.bl SELECT * FROM bktp_l")
        spark.sql("INSERT INTO gbkt.bo SELECT * FROM bktp_o")
        spark.sql("INSERT INTO gbkt.ul SELECT * FROM bktp_l")
        spark.sql("INSERT INTO gbkt.uo SELECT * FROM bktp_o")
        def q(l: String, o: String) = spark.sql(
          s"SELECT COUNT(*), SUM(l.price + o.total) FROM gbkt.$l l " +
            s"JOIN gbkt.$o o ON l.okey = o.okey")
        def med(f: () => Unit): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
        // shuffle WRITE bytes — the quantity the bucket layout deletes
        // from the plan, and the one that transfers to 100 TB (wall
        // time at sf0.1 is parquet-open overhead: 64 small files vs 2)
        val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onTaskEnd(
                e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
              if (e.taskMetrics != null)
                bytes.addAndGet(
                  e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          })
        val nB = q("bl", "bo").collect()(0).getLong(0)
        val nU = q("ul", "uo").collect()(0).getLong(0)
        assert(nB == nU, s"bucketed and plain joins disagree: $nB vs $nU")
        def bytesOf(f: () => Unit): Long = {
          bytes.set(0L); f(); Thread.sleep(1500); bytes.get()
        }
        val bT = med(() => { q("bl", "bo").collect(); () })
        val uT = med(() => { q("ul", "uo").collect(); () })
        val bBytes = bytesOf(() => { q("bl", "bo").collect(); () })
        val uBytes = bytesOf(() => { q("ul", "uo").collect(); () })
        // join-side exchanges from the FINAL plan only (the AQE string
        // repeats the initial plan below it)
        val plan = {
          val j = q("bl", "bo"); j.collect()
          j.queryExecution.executedPlan.toString
        }
        val finalPlan = plan.split("== Initial Plan ==").head
        val exch = "Exchange".r.findAllMatchIn(finalPlan).size
        println(f"[probe] bucketjoin rows=$nB%,d buckets=64: " +
          f"bucketed=$bT%.2f s shuffle=$uT%.2f s " +
          f"shuffle_bytes bucketed=$bBytes%,d vs plain=$uBytes%,d " +
          s"(join-side exchanges in final bucketed plan = " +
          s"${math.max(0, exch - 1)})")
      case "partwrite" =>
        // X316/X320 cost accounting: what the layout COSTS at write
        // time — the clustering exchange + per-key file rotation —
        // vs a plain INSERT of the same 6M rows. The price buys every
        // later join its zero-shuffle plan.
        val dir = args(1)
        val wh = graft.engine.TempWarehouse.createManaged("graft_pwp_")
        spark.conf.set("spark.sql.catalog.gpw",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gpw.warehouse", wh)
        graft.engine.Tables.lineitem(spark, dir).select(
          col("l_orderkey").as("okey"),
          col("l_extendedprice").cast("double").as("price"))
          .createOrReplaceTempView("pwp_l")
        spark.sql("CREATE TABLE gpw.plain (okey BIGINT, price DOUBLE)")
        spark.sql("CREATE TABLE gpw.bkt (okey BIGINT, price DOUBLE) " +
          "PARTITIONED BY (bucket(64, okey))")
        def timed(sql: String): Double = {
          val t0 = System.nanoTime()
          spark.sql(sql)
          (System.nanoTime() - t0) / 1e9
        }
        val warm = timed("INSERT INTO gpw.plain SELECT * FROM pwp_l")
        val plainT = timed("INSERT INTO gpw.plain SELECT * FROM pwp_l")
        val bktT = timed("INSERT INTO gpw.bkt SELECT * FROM pwp_l")
        val nFiles = graft.engine.TableCommit.entries(s"$wh/bkt").size
        val n = spark.sql("SELECT COUNT(*) FROM gpw.bkt")
          .collect()(0).getLong(0)
        println(f"[probe] partwrite rows=$n%,d: plain_insert=$plainT%.2f s " +
          f"bucketed_insert=$bktT%.2f s bucketed/plain=${bktT / plainT}%.2f " +
          f"files=$nFiles (warm pass $warm%.2f s discarded)")
      case "rtprune" =>
        // X313 evidence: runtime file pruning at 10× — a 64-file
        // range-clustered fact joined to a 2-key dim whose filter is a
        // non-key attribute (no static rewrite possible). With DPP on,
        // the scan receives the IN-set at execution time and plans the
        // single surviving file; the control disables DPP and scans
        // all 64. Identical results both ways.
        val dir = args(1)
        import org.apache.spark.sql.types._
        val root = graft.engine.TempWarehouse
          .createManaged("graft_rtpp_") + "/t"
        val fact = graft.engine.Tables.lineitem(spark, dir).select(
          col("l_orderkey").as("k"),
          col("l_extendedprice").cast("double").as("price"))
        graft.engine.TableCommit.commitAppend(
          fact.repartitionByRange(64, col("k")), root, retain = 4,
          statsCols = Seq("k"))
        val schema = StructType(Seq(StructField("k", LongType),
          StructField("price", DoubleType)))
        val maxK = graft.engine.Tables.lineitem(spark, dir)
          .agg(max(col("l_orderkey"))).collect()(0).getLong(0)
        val dim = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(
            org.apache.spark.sql.Row(maxK / 2L, 1),
            org.apache.spark.sql.Row(maxK / 2L + 1L, 1),
            org.apache.spark.sql.Row(7L, 2))),
          StructType(Seq(StructField("dk", LongType),
            StructField("grp", IntegerType)))).filter(col("grp") === 1)
        def run(): Long = {
          val f = spark.read.format("graft-table").schema(schema)
            .option("root", root).load()
          f.join(broadcast(dim), col("k") === col("dk")).count()
        }
        def med2(f: () => Unit): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
        graft.sources.GraftScanProbe.lastRuntimeKept = None
        val n1 = run()
        val kept = graft.sources.GraftScanProbe.lastRuntimeKept
        val onT = med2(() => { run(); () })
        spark.conf.set(
          "spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
        val n2 = run()
        val offT = med2(() => { run(); () })
        spark.conf.set(
          "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        assert(n1 == n2, s"pruned and unpruned joins disagree: $n1 vs $n2")
        println(f"[probe] rtprune rows_out=$n1%,d files=64 " +
          f"kept=${kept.getOrElse(-1)}: dpp_on=$onT%.2f s " +
          f"dpp_off=$offT%.2f s on/off=${onT / offT}%.2f")
      case "mergebig" =>
        // X305 evidence (VERDICT r14 task 1): the shuffle MoR MERGE at
        // 10× — wall time and post-GC driver heap vs the broadcast
        // path on the SAME upsert batch; cost must track the damage,
        // the driver must stay flat.
        val dir = args(1)
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("k", LongType), StructField("qty", DoubleType),
          StructField("price", DoubleType), StructField("s", StringType)))
        def usedHeap(): Long = {
          System.gc(); Thread.sleep(300); System.gc()
          val rt = Runtime.getRuntime
          rt.totalMemory - rt.freeMemory
        }
        def src0 = graft.engine.Tables.lineitem(spark, dir)
          .select(monotonically_increasing_id().as("k"),
            col("l_quantity").cast("double").as("qty"),
            col("l_extendedprice").cast("double").as("price"),
            concat(col("l_returnflag"), lit("|"), col("l_linestatus"),
              lit("|"), col("l_shipdate").cast("string")).as("s"))
        Seq("broadcast" -> 5000000, "shuffle" -> 1000).foreach {
          case (tag, ceil) =>
            val root = graft.engine.TempWarehouse
              .createManaged(s"graft_mergebig_${tag}_") + "/t"
            graft.engine.TableCommit.commitAppend(
              src0.repartitionByRange(32, col("k"))
                .sortWithinPartitions("k"), root, retain = 8)
            // 10% of keys updated + 1% new — a real daily upsert shape
            val batch = src0.filter(pmod(col("k"), lit(10L)) === 3L)
              .withColumn("qty", col("qty") + 1.0)
              .unionByName(src0.filter(pmod(col("k"), lit(101L)) === 7L)
                .withColumn("k", col("k") + (1L << 40)))
            val h0 = usedHeap()
            val t0 = System.nanoTime()
            graft.engine.TableCommit.commitMergeRows(spark, root, schema,
              batch, keyCols = Seq("k"), retain = 8,
              maxBroadcastKeys = ceil)
            val dt = (System.nanoTime() - t0) / 1e9
            val h1 = usedHeap()
            val es = graft.engine.TableCommit.entries(root)
            val dvFiles = es.count(_.stats.contains(
              graft.engine.TableCommit.DvKey))
            val rows = graft.engine.TableCommit
              .read(spark, root, schema).count()
            println(f"[probe] mergebig $tag ceil=$ceil: merge=$dt%.1f s " +
              f"heapDelta=${(h1 - h0) / 1048576}%d MiB " +
              f"files=${es.size} dvFiles=$dvFiles liveRows=$rows%,d")
        }
      case "statsbcast" =>
        // X325 evidence (VERDICT r15 task 1): manifest statistics to
        // the planner — with AQE OFF, a facet-read small dim must
        // plan-time BroadcastHashJoin against a facet-read fact
        // (before X325 it planned SMJ: both sides carried the default
        // size estimate). A/B: the same join forced to SMJ
        // (autoBroadcastJoinThreshold = -1) pays the two-sided
        // exchange the statistics remove.
        val dir = args(1)
        import org.apache.spark.sql.types._
        val base = graft.engine.TempWarehouse.createManaged("graft_sb_")
        val rF = s"$base/fact"; val rD = s"$base/dim"
        graft.engine.TableCommit.commitAppend(
          graft.engine.Tables.lineitem(spark, dir).select(
            col("l_suppkey").as("sk"),
            col("l_extendedprice").cast("double").as("price")),
          rF, retain = 4, statsCols = Seq("sk"))
        graft.engine.TableCommit.commitAppend(
          graft.engine.Tables.supplier(spark, dir).select(
            col("s_suppkey").as("sk"), col("s_name").as("name")),
          rD, retain = 4, statsCols = Seq("sk"))
        val schF = StructType(Seq(StructField("sk", LongType),
          StructField("price", DoubleType)))
        val schD = StructType(Seq(StructField("sk", LongType),
          StructField("name", StringType)))
        def rd(r: String, sch: StructType) = spark.read
          .format("graft-table").schema(sch).option("root", r).load()
        def q() = rd(rF, schF).join(rd(rD, schD), "sk")
          .agg(count(lit(1)), sum(col("price")))
        def med3(f: () => Unit): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val planB = q().queryExecution.executedPlan.toString
        val bcast = planB.contains("BroadcastHashJoin")
        val bT = med3(() => { q().collect(); () })
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val planS = q().queryExecution.executedPlan.toString
        val smj = planS.contains("SortMergeJoin")
        val sT = med3(() => { q().collect(); () })
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        println(f"[probe] statsbcast plan_broadcast=$bcast " +
          f"forced_smj=$smj bhj=$bT%.2f s smj=$sT%.2f s " +
          f"bhj/smj=${bT / sT}%.2f")
      case "rtcluster" =>
        // X329 evidence: runtime pruning on a CLUSTERED scan — 8 key
        // groups × 8 files each; a broadcast dim surviving 1 key.
        // The composed scan plans the live group's 8 files plus one
        // witness per dead group (15 of 64); the r15 behavior
        // (clustered scans decline runtime filters) scanned all 64.
        val dir = args(1)
        import org.apache.spark.sql.types._
        val root = graft.engine.TempWarehouse
          .createManaged("graft_rtc_") + "/t"
        (0 until 8).foreach { b =>
          val df = graft.engine.Tables.lineitem(spark, dir).select(
            pmod(col("l_orderkey"), lit(8L)).as("g"),
            (col("l_orderkey") + b * 100000000L).as("x"))
            .repartition(8, col("g"))
          graft.engine.TableCommit.commitAppend(df, root, retain = 4,
            statsCols = Seq("g"), partCol = Some("g"))
        }
        val es = graft.engine.TableCommit.entries(root)
        val sch = StructType(Seq(StructField("g", LongType),
          StructField("x", LongType)))
        val dim = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(
            org.apache.spark.sql.Row(3L, 1),
            org.apache.spark.sql.Row(99L, 2))),
          StructType(Seq(StructField("dg", LongType),
            StructField("grp", IntegerType)))).filter(col("grp") === 1)
        def run(): Long = {
          val f = spark.read.format("graft-table").schema(sch)
            .option("root", root).option("clusterby", "g").load()
          f.join(broadcast(dim), col("g") === col("dg")).count()
        }
        def medR(f: () => Unit): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
        graft.sources.GraftScanProbe.lastRuntimeKept = None
        val n1 = run()
        val kept = graft.sources.GraftScanProbe.lastRuntimeKept
        val onT = medR(() => { run(); () })
        spark.conf.set(
          "spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
        val n2 = run()
        val offT = medR(() => { run(); () })
        spark.conf.set(
          "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        assert(n1 == n2, s"pruned and unpruned joins disagree: $n1 vs $n2")
        println(f"[probe] rtcluster files=${es.size} " +
          f"kept=${kept.getOrElse(-1)} rows_out=$n1%,d: " +
          f"compose_on=$onT%.2f s off=$offT%.2f s " +
          f"on/off=${onT / offT}%.2f")
      case "theilcal" =>
        // r17 evidence (VERDICT r16 item 1): the r16 distributed rank
        // walk at 10× the sf0.1 calendar. Synthetic orders spanning
        // nDays (3 rows/day, deterministic pseudo-random totals so the
        // daily means — and thus the slopes — barely fold, the
        // worst case for the histogram), run through the REAL
        // Stats.theilSenQ. Reports wall, the heaviest Spark job, and
        // its task count — the r16 claim is that no single-task sort
        // remains at any calendar size. Args: nDays...
        args.drop(1).foreach { ndStr =>
          val nDays = ndStr.toInt
          val dir = graft.engine.TempWarehouse
            .createManaged("graft_tsc_")
          spark.range(nDays.toLong * 3L)
            .select(
              date_add(lit(java.sql.Date.valueOf("1992-01-01")),
                (col("id") / 3L).cast("int")).as("o_orderdate"),
              // SMALL totals (1.00–9.99): the OLS-contrast leg's cleared
              // Long moments scale with days³ × mean-cents, so a 10×
              // calendar only fits under 2⁶³ with small means — an
              // intrinsic, ANSI-guarded bound of the CONTRAST leg (the
              // rank walk under probe here is days-bounded either way)
              ((pmod(col("id") * 2654435761L, lit(900L)) + 100L)
                .cast("double") / 100.0).as("o_totalprice"))
            .write.parquet(s"$dir/orders.parquet")
          val jobs = new java.util.concurrent.ConcurrentHashMap[
            Int, (Long, Int)]()
          val starts = new java.util.concurrent.ConcurrentHashMap[
            Int, (Long, Int)]()
          val l = new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              starts.put(e.jobId,
                (System.nanoTime(), e.stageInfos.map(_.numTasks).sum))
            override def onJobEnd(
                e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
              val s = starts.get(e.jobId)
              if (s != null)
                jobs.put(e.jobId, (System.nanoTime() - s._1, s._2))
            }
          }
          spark.sparkContext.addSparkListener(l)
          val t0 = System.nanoTime()
          val row = graft.operators.Stats.theilSenQ(spark, dir).head()
          val wall = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.removeSparkListener(l)
          import scala.jdk.CollectionConverters._
          val heavy = jobs.asScala.values.toSeq.maxBy(_._1)
          println(f"[theilcal] days=$nDays pairs=${row.getLong(1)}%,d " +
            f"wall=$wall%.1fs heaviest-job=${heavy._1 / 1e9}%.1fs " +
            f"(tasks=${heavy._2}) ts=${row.getLong(2)} " +
            f"ols=${row.getLong(3)}")
        }

      case "upddmg" =>
        // r17 evidence (VERDICT r16 item 1): the r16 UPDATE victims
        // fence on a fixture where damage ≪ table. Builds a mult×-
        // replicated orders table, updates ~1/1000 of its rows, and
        // dumps every Spark job's input rows during the verb — the
        // fence claim is that exactly ONE job reads the table-sized
        // row count (the victims scan); the DV fold and image staging
        // read the damage-sized persisted frame. Args: mult [dir].
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val mult = args(1).toInt
        val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
        val root = graft.engine.TempWarehouse
          .createManaged("graft_upd_") + "/orders"
        val base = graft.engine.Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderstatus"))
        val big = base.crossJoin(
            spark.range(mult.toLong).select(col("id").as("rep")))
          .select((col("o_orderkey") * mult.toLong + col("rep")).as("k"),
            col("o_orderstatus").as("st"))
        graft.engine.TableCommit.commitAppend(
          big.repartition(16), root, retain = 4, trackRowIds = true)
        val schema = StructType(Seq(StructField("k", LongType),
          StructField("st", StringType)))
        val nRows = spark.read.parquet(
          graft.engine.TableCommit.entries(root)
            .map(e => s"$root/${e.path}"): _*).count()
        val recs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (e.taskMetrics != null)
              recs.merge(e.stageId,
                e.taskMetrics.inputMetrics.recordsRead, Long.box(_) + _)
        }
        spark.sparkContext.addSparkListener(l)
        val t0 = System.nanoTime()
        graft.engine.TableCommit.commitUpdateRows(spark, root, schema,
          pmod(col("k"), lit(1000L)) === 7L,
          Seq("st" -> lit("X")), retain = 4, preserveRowIds = true)
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.removeSparkListener(l)
        import scala.jdk.CollectionConverters._
        val tableSized = recs.asScala.values.count(_ >= nRows / 2)
        println(f"[upddmg] rows=$nRows%,d damage=${nRows / 1000}%,d " +
          f"update-wall=$wall%.1fs table-sized-scans=$tableSized " +
          f"stage-input-rows=${recs.asScala.values.toSeq.sorted.reverse.take(6).mkString(",")}")

      case "wfiles" =>
        // r17 evidence (VERDICT r16 item 1): the r16 InternalRow writer
        // at high file counts. Same 6M-row INSERT planned as ~8 files
        // vs ~512 files (identity-partitioned by a 512-value key):
        // per-file writer overhead = (t_many − t_few) / Δfiles. The r16
        // rewrite's claim is that per-file cost is dominated by data,
        // not by writer construction (shared Configuration, one-time
        // type dispatch). Args: dir.
        val wdir = args(1)
        val wh = graft.engine.TempWarehouse.createManaged("graft_wf_")
        spark.conf.set("spark.sql.catalog.gwf", "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gwf.warehouse", wh)
        graft.engine.Tables.lineitem(spark, wdir).select(
          col("l_orderkey").as("okey"),
          pmod(col("l_orderkey"), lit(512L)).as("pk"),
          col("l_extendedprice").cast("double").as("price"))
          .createOrReplaceTempView("wf_l")
        spark.sql("CREATE TABLE gwf.few (okey BIGINT, pk BIGINT, " +
          "price DOUBLE)")
        spark.sql("CREATE TABLE gwf.many (okey BIGINT, pk BIGINT, " +
          "price DOUBLE) PARTITIONED BY (pk)")
        def wtimed(sql: String): Double = {
          val t0 = System.nanoTime()
          spark.sql(sql)
          (System.nanoTime() - t0) / 1e9
        }
        wtimed("INSERT INTO gwf.few SELECT * FROM wf_l") // warm
        val fewT = wtimed("INSERT INTO gwf.few SELECT * FROM wf_l")
        val manyT = wtimed("INSERT INTO gwf.many SELECT * FROM wf_l")
        val fewN = graft.engine.TableCommit.entries(s"$wh/few").size
        val manyN = graft.engine.TableCommit.entries(s"$wh/many").size
        println(f"[wfiles] few: $fewT%.2f s/$fewN files  many: " +
          f"$manyT%.2f s/$manyN files  per-extra-file=" +
          f"${(manyT - fewT) * 1000.0 / math.max(1, manyN - fewN)}%.1f ms")

      case "ccstars" =>
        // r17 evidence (VERDICT r16 item 4): star-contraction round counts
        // on path graphs (worst-case diameter). Args: path lengths. Per
        // length: rounds, wall, and the label checksum (every node labels
        // to 0 ⇒ label sum 0, node sum n(n-1)/2).
        args.drop(1).foreach { nStr =>
          val n = nStr.toLong
          val path = spark.range(n - 1)
            .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
          val t0 = System.nanoTime()
          val r = graft.operators.Dedup.connectedComponents(spark, path, 0L)
            .agg(sum(col("node")), sum(col("label"))).head()
          val wall = (System.nanoTime() - t0) / 1e9
          val rounds = graft.operators.Dedup.ccLastRounds.get()
          val ok = (r.getLong(0), r.getLong(1)) == ((n - 1) * n / 2, 0L)
          println(f"[ccstars] n=$n star rounds=$rounds wall=$wall%.1fs " +
            f"labels-ok=$ok")
        }

      case "nestedparity" =>
        // X330 evidence: an ARRAY-bearing schema through the facet's
        // vectorized path vs the same files through spark.read.parquet
        // — the 0.9–1.1× parity band (the r15 whitelist criterion),
        // on the embeddings table's FLOAT[] column.
        val dir = args(1)
        import org.apache.spark.sql.types._
        val root = graft.engine.TempWarehouse
          .createManaged("graft_np_") + "/t"
        // 50× replication: the raw table is 2k rows — too small to
        // separate decode cost from session overhead
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .crossJoin(spark.range(50L).select(col("id").as("rep")))
          .select((col("vec_id") * 50L + col("rep")).as("vec_id"),
            col("embedding"), col("label"))
        graft.engine.TableCommit.commitAppend(
          emb.repartition(8), root, retain = 4)
        val sch = StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)),
          StructField("label", IntegerType)))
        val paths = graft.engine.TableCommit.entries(root)
          .map(e => s"$root/${e.path}")
        def agg(df: org.apache.spark.sql.DataFrame): Double =
          df.select(sum(expr(
            "aggregate(embedding, 0D, (a, x) -> a + x)")))
            .collect()(0).getDouble(0)
        def medN(f: () => Double): (Double, Double) = {
          val xs = (1 to 5).map { _ =>
            val t0 = System.nanoTime()
            val v = f()
            ((System.nanoTime() - t0) / 1e9, v)
          }
          (xs.map(_._1).sorted.apply(2), xs.head._2)
        }
        val facet = () => agg(spark.read.format("graft-table")
          .schema(sch).option("root", root).load())
        val native = () => agg(spark.read.schema(sch).parquet(paths: _*))
        val (fT, fV) = medN(facet)
        val (nT, nV) = medN(native)
        assert(math.abs(fV - nV) < 1e-6 * math.abs(nV),
          s"facet and native disagree: $fV vs $nV")
        println(f"[probe] nestedparity rows=${emb.count()}%,d " +
          f"facet=$fT%.3f s native=$nT%.3f s ratio=${fT / nT}%.2f")
      case other =>
        System.err.println(s"unknown probe: $other")
        sys.exit(1)
    }
    spark.stop()
  }
}
