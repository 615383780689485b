package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off sf-multiplier for the local scale soak: replicate the sf0.1
  * tables `mult`× with key shifts so referential joins hold per replica,
  * writing an sf1-equivalent directory the SCALING.md runs read.
  *
  * Replication is NOT naive copying — a verbatim copy would create `mult`
  * exact duplicates of every document/embedding and the dedup/ANN soak
  * would measure an artificial quadratic pair explosion instead of scale:
  *   - every foreign/primary key shifts by replica·(max_key+1), so each
  *     replica is a self-consistent island and cross-replica joins miss;
  *   - `c_name` is rebuilt from the shifted key (the fuzzy join's 9-digit
  *     tail contract holds: keys stay well under 10^9);
  *   - document text is CAESAR-CIPHERED per replica (letters rotated by
  *     the replica index) — a bijection on strings, so every within-replica
  *     shingle/word equality relation is preserved exactly while
  *     cross-replica overlap drops to punctuation. A replica-unique lead
  *     token is NOT enough: it perturbs only the first few shingles, the
  *     10 copies of each doc stay Jaccard-~0.95 near-dups of each other,
  *     and the first soak measured a 1000× (quadratic-in-replicas) pair
  *     explosion manufactured by the DATA, not the algorithms;
  *   - embeddings are circularly ROTATED by replica index — an orthogonal
  *     transform, so within-replica geometry (and thus neighbor structure)
  *     is exactly preserved while cross-replica cosine drops to noise;
  *   - events shift user/event ids but keep the time window (more users,
  *     same days — how production traffic actually grows).
  * Replica 0 is the original data byte-for-byte in values.
  *
  * Usage: sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf1 10"
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val mult = if (args.length > 2) args(2).toInt else 10
    val spark = graft.engine.Session()

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def keyShift(df: DataFrame, col0: String): Long =
      df.agg(max(col(col0))).head().getLong(0) + 1L
    /** replica-expanded frame: one copy per r in [0, mult) with `shifts`
      * applied (column -> base offset; actual shift = r * base). */
    def replicate(df: DataFrame, shifts: Map[String, Long],
        extra: (DataFrame, org.apache.spark.sql.Column) => DataFrame =
          (d, _) => d): DataFrame = {
      val reps = spark.range(mult).select(col("id").cast("int").as("_r"))
      val joined = df.crossJoin(broadcast(reps))
      val shifted = shifts.foldLeft(joined) { case (d, (c, base)) =>
        d.withColumn(c, col(c) + col("_r").cast("long") * base)
      }
      extra(shifted, col("_r")).drop("_r")
    }
    def write(df: DataFrame, name: String): Unit = {
      // Match the testdata layout EXACTLY: one plain FILE per table named
      // `<name>.parquet` — the streaming source lists the sf dir with
      // pathGlobFilter=<name>.parquet, which matches files, not dirs (a
      // directory-per-table corpus broke the streaming soak tier).
      // repartition spreads the replicate/shift compute across the
      // cluster (shuffle map side); the coalesce(1) only serializes the
      // final read+write of the shuffled rows.
      import java.nio.file.{Files, Paths}
      val tmp = s"$dst/_tmp_$name"
      df.repartition(spark.sparkContext.defaultParallelism)
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator()
      var moved = false
      while (part.hasNext) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          Files.move(p, Paths.get(s"$dst/$name.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          moved = true
        }
      }
      require(moved, s"no part file produced for $name")
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // fixed dims copy as-is
    write(t("region"), "region")
    write(t("nation"), "nation")

    val custShift = keyShift(t("customer"), "c_custkey")
    write(replicate(t("customer"), Map("c_custkey" -> custShift),
      (d, _) => d.withColumn("c_name",
        concat(lit("Customer#"), lpad(col("c_custkey").cast("string"), 9, "0")))),
      "customer")

    val suppShift = keyShift(t("supplier"), "s_suppkey")
    write(replicate(t("supplier"), Map("s_suppkey" -> suppShift)), "supplier")

    val partShift = keyShift(t("part"), "p_partkey")
    write(replicate(t("part"), Map("p_partkey" -> partShift)), "part")

    val orderShift = keyShift(t("orders"), "o_orderkey")
    write(replicate(t("orders"),
      Map("o_orderkey" -> orderShift, "o_custkey" -> custShift)), "orders")

    write(replicate(t("lineitem"),
      Map("l_orderkey" -> orderShift, "l_partkey" -> partShift,
        "l_suppkey" -> suppShift)), "lineitem")

    val eventShift = keyShift(t("events"), "event_id")
    val userShift = keyShift(t("events"), "user_id")
    write(replicate(t("events"),
      Map("event_id" -> eventShift, "user_id" -> userShift)), "events")

    val docShift = keyShift(t("documents"), "doc_id")
    val al = "abcdefghijklmnopqrstuvwxyz"
    // per-replica substitution cipher: a SEEDED alphabet permutation, not a
    // rotation — rotations alias at 26 replicas (rot 0 == rot 26) and the
    // aliased replicas would reintroduce exact cross-replica duplicates
    def perm(i: Int): String =
      new scala.util.Random(i).shuffle(al.toList).mkString
    write(replicate(t("documents"), Map("doc_id" -> docShift),
      (d, r) => d.withColumn("text",
        (1 until mult).foldLeft(when(r === 0, col("text"))) { (acc, i) =>
          val p = perm(i)
          acc.when(r === i, translate(col("text"),
            al + al.toUpperCase, p + p.toUpperCase))
        }.otherwise(col("text")))), "documents")

    val vecShift = keyShift(t("embeddings"), "vec_id")
    write(replicate(t("embeddings"), Map("vec_id" -> vecShift),
      (d, r) => {
        // circular rotation by replica%dim (orthogonal); replicas past one
        // full cycle additionally NEGATE the vector (also orthogonal) so
        // no two of up to 2·dim replicas share a transform
        val dim = size(col("embedding"))
        val rr = r % dim
        val rotated = when(rr === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), rr + lit(1), dim - rr),
          slice(col("embedding"), lit(1), rr)))
        // cycle index = FLOOR(r / dim): Column `/` on ints is DOUBLE
        // division, so the previous `(r / dim) % 2` was 0 only at exact
        // even multiples of dim — replicas r and r+dim applied identical
        // transforms and the 100× tier's replicas 65..99 aliased 1..35
        // (ADVICE r8). floor() restores the intended alternation.
        d.withColumn("embedding",
          when(floor(r / dim).cast("long") % 2 === 0, rotated)
            .otherwise(transform(rotated, x => -x)))
      }), "embeddings")

    spark.stop()
  }
}
