package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 data generator: scales the driver's sf0.1 tables 10× with the
  * same schemas, key relationships and value distributions, so the
  * CORRECTNESS / BENCH / SCALE measurements can run one decade above the
  * largest driver-provided scale (TESTDATA.md stops at sf0.1; the
  * testdata tree is read-only, so the output lives in the repo and is
  * gitignored).
  *
  * Star schema + events: tiled `factor`× with dense key offsets —
  * distributions and FK integrity are preserved exactly, and every
  * selective literal predicate in the query suite keeps selecting the
  * same fraction. Documents and embeddings are generated FRESH instead:
  * tiling text 10× would plant a 10-way exact-duplicate clone of every
  * document and quadratically explode every pairwise dedup output —
  * the corpus is re-synthesized at 10× size from the same per-language
  * vocabulary with the same planted duplicate structure:
  *
  *  - 1/625 of docs are exact duplicates of their predecessor
  *    (sf0.1 has 8 dup hash groups in 5000 docs — same rate);
  *  - 1/200 are near-duplicates: ~1/16 of words mutated, so 3-gram
  *    Jaccard lands ≈0.7 — above d4's τ=0.12, and caught by d2's
  *    16-perm/4-band LSH with high probability, like sf0.1's planted
  *    pairs;
  *  - embeddings are Box–Muller gaussian unit vectors (cosine of
  *    random pairs ~ N(0, 1/64)); 1/100 are near-duplicates of their
  *    predecessor (tiny perturbation, same label) so d5/a* have
  *    structure to find.
  *
  * Everything is a pure function of (table, id, position) through
  * xxhash64 — deterministic on any cluster size, no RNG state.
  */
object GenData {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "data/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.sources.Tables

    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$name.parquet")
      println(s"[gen] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // fixed-size dimensions: copied verbatim
    write(Tables.region(spark, src), "region", 1)
    write(Tables.nation(spark, src), "nation", 1)

    // dense 0-based keys at sf0.1 (verified): tile with per-copy offsets
    val C = 15000L; val S = 1000L; val P = 20000L; val O = 150000L
    val E = 100000L; val U = 1500L
    def tiled(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until factor).map { k =>
        shifts.foldLeft(df) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(k * span))
        }
      }.reduce(_ unionByName _)

    write(tiled(Tables.customer(spark, src), Map("c_custkey" -> C)), "customer", 2)
    write(tiled(Tables.supplier(spark, src), Map("s_suppkey" -> S)), "supplier", 1)
    write(tiled(Tables.part(spark, src), Map("p_partkey" -> P)), "part", 2)
    write(tiled(Tables.orders(spark, src),
      Map("o_orderkey" -> O, "o_custkey" -> C)), "orders", 4)
    write(tiled(Tables.lineitem(spark, src),
      Map("l_orderkey" -> O, "l_partkey" -> P, "l_suppkey" -> S)), "lineitem", 8)
    write(tiled(Tables.events(spark, src),
      Map("event_id" -> E, "user_id" -> U)), "events", 4)

    // ---- documents: fresh synthesis at factor× ------------------------
    val nDocs = 5000L * factor
    // per-language vocabulary of the source corpus (31 words per lang,
    // near-uniform frequency — uniform draws reproduce it)
    val vocab = Tables.documents(spark, src)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .distinct()
      .withColumn("idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("word")) - 1)
    val vocabSize = vocab.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val langs = vocabSize.keys.toSeq.sorted
    // language mix of the source corpus (en-heavy)
    val langWeights = Tables.documents(spark, src).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val total = langWeights.values.sum
    val cum = langs.scanLeft(0.0)((acc, l) => acc + langWeights(l) / total).tail
    def pickLang(u: org.apache.spark.sql.Column) =
      langs.zip(cum).foldRight(lit(langs.last)) { case ((l, c), other) =>
        when(u < c, l).otherwise(other)
      }

    def u01(seed: String, cols: org.apache.spark.sql.Column*) =
      (pmod(xxhash64(lit(seed) +: cols: _*), lit(1000000L)) + 0.5) / 1000000.0

    val base = spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("is_exact", pmod(col("doc_id"), lit(625)) === 624)
      .withColumn("is_near",
        !col("is_exact") && pmod(col("doc_id"), lit(200)) === 199)
      // content identity: dup/near-dup docs draw words from their
      // predecessor's stream
      .withColumn("eid",
        when(col("is_exact") || col("is_near"), col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("lang", pickLang(u01("lang", col("eid"))))
      .withColumn("source",
        concat(lit("src"), pmod(xxhash64(lit("src"), col("doc_id")), lit(20))))
      .withColumn("n_words",
        (lit(10) + pmod(xxhash64(lit("len"), col("eid")), lit(90))).cast("int"))

    val positions = base.select(col("doc_id"), col("eid"), col("is_near"),
        col("lang"), col("source"),
        explode(sequence(lit(0), col("n_words") - 1)).as("pos"))
      // near-dups re-draw ~1/16 of positions from their own stream
      .withColumn("mut",
        col("is_near") && pmod(xxhash64(lit("mut"), col("doc_id"), col("pos")),
          lit(16)) === 0)
      .withColumn("draw_id", when(col("mut"), col("doc_id")).otherwise(col("eid")))
      .withColumn("h", xxhash64(lit("w"), col("draw_id"), col("pos")))
    val sized = langs.foldRight(lit(31L)) { (l, other) =>
      when(col("lang") === l, lit(vocabSize(l))).otherwise(other)
    }
    val withWords = positions
      .withColumn("idx", pmod(col("h"), sized).cast("int"))
      .join(broadcast(vocab), Seq("lang", "idx"))
    val documents = withWords
      .groupBy("doc_id", "lang", "source")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word")), " ").as("text"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    write(documents, "documents", 2)

    // ---- embeddings: gaussian unit vectors, planted near-dups ---------
    val nVec = 2000L * factor
    val dims = 64
    def gauss(seed: String, idc: org.apache.spark.sql.Column) = {
      // Box–Muller over two deterministic uniforms
      val u1 = u01(seed + "u1", col("evid"), idc)
      val u2 = u01(seed + "u2", col("evid"), idc)
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    }
    val evec = spark.range(nVec).select(col("id").as("vec_id"))
      .withColumn("is_near", pmod(col("vec_id"), lit(100)) === 99)
      .withColumn("evid",
        when(col("is_near"), col("vec_id") - 1).otherwise(col("vec_id")))
      .withColumn("label",
        pmod(xxhash64(lit("lbl"), col("evid")), lit(10)).cast("int"))
      .withColumn("raw", transform(sequence(lit(0), lit(dims - 1)), i =>
        gauss("g", i) + when(col("is_near"),
          // small perturbation keyed by the vector's OWN id
          lit(0.05) * (u01("pert", col("vec_id"), i) * 2.0 - 1.0)).otherwise(lit(0.0))))
      .withColumn("norm",
        sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .withColumn("embedding",
        transform(col("raw"), x => (x / col("norm")).cast("float")))
      .select("vec_id", "embedding", "label")
    write(evec, "embeddings", 2)

    spark.stop()
  }
}
