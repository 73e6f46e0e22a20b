package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Durable, BUCKETED storage for the corpus-level index artifacts the
  * session caches ([[graft.ann.CellIndexCache]],
  * [[graft.dedup.ClusterCache]]) otherwise rebuild per process — the
  * "index construction vs search" split FAISS ships as write_index /
  * read_index, realized as Spark bucketed tables:
  *
  *  - `cells`      (id, vec, cell)            bucketed by `cell`
  *  - `centroids`  (g_grp, c_cell, c_vec)     bucketed by `g_grp`
  *  - `gcents`     (g_grp, g_vec)             k1 tiny rows, plain
  *  - `pqcodebook` (__m, __cid, __csub)       k·m tiny rows, plain
  *  - `pqcodes`    (c_cell, __vid, __codes)   bucketed by `c_cell`
  *  - `rawpqcodebook` / `rawpqcodes`          a8's standalone-PQ index
  *  - `pairs`      (id_a, id_b, cos)          bucketed by `id_a`
  *  - `postings`   (doc_id, n_sh, shingle)    bucketed by `shingle`
  *  - `shingledf`  (shingle, __df, __first)   bucketed by `shingle`
  *  - `minhash`    (id_a, id_b)               bucketed by `id_a`
  *  - `clusters`   (doc_id, cluster_id)       bucketed by `doc_id`
  *  - `docwordtf`  (doc_id, w, tf)            bucketed by `w`
  *  - `jpairs`/`cpairs`/`wpairs`               τ/param-stamped verified-pair
  *    tables (d4/d11, x16, x15)                bucketed by `id_a`
  *
  * The bucket keys are each artifact's probe/join key, so a search
  * session gets the two properties the at-scale claims assume
  * (Ann.scala probedCellsHier / ivfPqCodes docs): (a) a probe's
  * `cell IN (...)` / `g_grp IN (...)` filter prunes to the probed
  * BUCKETS at the scan ("SelectedBucketsCount: k out of n" in the
  * plan — spec-checked), and (b) joins/aggregations on the bucket key
  * read pre-partitioned data with no Exchange. And no new session
  * ever pays the index build again — the cache getters load these
  * tables when [[enabled]].
  *
  * Activation: ON BY DEFAULT since r14 — the cache getters auto-load
  * any artifact whose manifest exists and whose corpus fingerprint
  * still matches (GRAFT_INDEX_TABLES=0/off forces build mode; "1"
  * stays accepted and means the same as unset). Bench/Verify prime a
  * corpus on first touch via [[primeIfMissing]] (write ONLY the
  * missing artifacts), so the first session pays the build+write once
  * and every later session loads. Staleness is two-axis: PARAMETER
  * changes (shingle n, minhash perms/bands; coarse-cell k1/k2
  * re-derive deterministically from the parquet footer row count)
  * ride in the table NAME, and corpus CONTENT changes invalidate the
  * manifest's source fingerprint — either way a stale table is
  * rebuilt, never silently served. Storage is the session warehouse
  * dir (spark-warehouse + embedded metastore by default; a deployment
  * points spark.sql.warehouse.dir at the object store). */
object IndexStore {
  val EnvFlag = "GRAFT_INDEX_TABLES"

  /** Load-from-tables mode: ON unless explicitly disabled
    * (GRAFT_INDEX_TABLES=0/off/false; system property first — tests —
    * env second). Writes via [[writeAll]]/[[primeIfMissing]] work
    * regardless of the flag's value; only loading is gated. */
  def enabled: Boolean =
    !sys.props.get(EnvFlag).orElse(sys.env.get(EnvFlag))
      .exists(v => v == "0" || v.equalsIgnoreCase("off") ||
        v.equalsIgnoreCase("false"))

  /** Bucket count for written index tables. Joins/aggregations on the
    * bucket key inherit the table's bucket count as their parallelism
    * (bucketed scans are never AQE-split), so this must match the
    * compute width: a fixed 8 capped every loaded-index join at
    * 8 tasks on the 32-thread box — measured 4x on d11's pair join at
    * sf1 (34.5s loaded vs 8.3s built; 34.5 ≈ 8.3 · 32/8). Default =
    * the WRITING session's shuffle-partition width (which Bench/Verify
    * set to SPARK_GRAFT_CPUS — so the count tracks the box, 32 here,
    * 3 at the CPUS3 gate, hundreds on a cluster: the same sizing rule
    * as shuffle partitions). GRAFT_INDEX_BUCKETS overrides when the
    * write box and the read fleet differ. Already-written tables keep
    * their recorded bucket spec until re-primed. */
  def buckets(spark: SparkSession): Int =
    sys.props.get("GRAFT_INDEX_BUCKETS").orElse(sys.env.get("GRAFT_INDEX_BUCKETS"))
      .map(_.toInt)
      .getOrElse(spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** Deterministic per-(corpus dir, artifact) table name: dir basename
    * for readability + full-path hash for uniqueness. */
  def tableName(dir: String, artifact: String): String = {
    val base = dir.replaceAll("/+$", "").split('/').last
      .toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9]", "_")
    val h = Integer.toHexString(
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4)
        .foldLeft(0)((a, b) => (a << 8) | (b & 0xff)))
    s"graft_idx_${base}_${h}__$artifact"
  }

  private def location(spark: SparkSession, name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), name)

  private def manifestPath(spark: SparkSession, name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(location(spark, name), "_graft_index_meta.json")

  /** Corpus-content fingerprint for staleness detection: per source
    * table every index artifact derives from (documents, embeddings),
    * the data-file count and total bytes under `<dir>/<table>.parquet`
    * (file or spark-written directory). A regenerated corpus with
    * different content virtually never keeps identical compressed
    * parquet lengths, so the manifest check fails and the artifact is
    * REBUILT — never silently served stale. mtimes are deliberately
    * excluded: deterministic regeneration of identical bytes stays
    * valid (the driver re-materializes testdata per round). */
  private[graft] def corpusFingerprint(spark: SparkSession, dir: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    def one(table: String): String = {
      val p = new org.apache.hadoop.fs.Path(dir, table + ".parquet")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) s"$table:absent"
      else {
        val it = fs.listFiles(p, true)
        var n = 0L
        var bytes = 0L
        while (it.hasNext) {
          val f = it.next()
          val base = f.getPath.getName
          if (!base.startsWith("_") && !base.startsWith(".")) {
            n += 1; bytes += f.getLen
          }
        }
        s"$table:$n:$bytes"
      }
    }
    Seq("documents", "embeddings").map(one).mkString(";")
  }

  /** Catalog registration does NOT survive the JVM (the default
    * in-memory catalog; no Hive metastore dependency here), but the
    * bucketed FILES do — each write drops a `_graft_index_meta.json`
    * manifest (underscore prefix: invisible to Spark's file listing)
    * carrying schema + bucket spec, and a later session re-registers
    * the table with CREATE TABLE ... CLUSTERED BY ... LOCATION before
    * first use. That is what makes the index durable across sessions,
    * not merely across queries. */
  private def registerIfNeeded(spark: SparkSession, name: String,
                               dir: String,
                               checkFreshness: Boolean = true): Boolean = {
    if (spark.catalog.tableExists(name)) return true
    val mp = manifestPath(spark, name)
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mp)) return false
    val in = fs.open(mp)
    val manifest =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // manifest layout: line 1 schema JSON, line 2 "bucketKey,buckets",
    // line 3 corpus fingerprint. A 2-line (pre-r14) manifest carries no
    // fingerprint and is treated as stale — rebuilt, never trusted.
    val parts = manifest.split("\n", 3)
    if (parts.length < 3) return false
    if (checkFreshness && parts(2).trim != corpusFingerprint(spark, dir))
      return false
    // width-staleness (ADVICE r15): a bucketed artifact primed by a
    // low-parallelism session (e.g. the CPUS=3 gate writing 3 buckets)
    // would cap every later wide session's loaded-index joins at the
    // writer's width — bucketed scans are never AQE-split. Treat a
    // GROSS mismatch (recorded < 1/4 of this session's write width) as
    // stale: the getter rebuilds and re-primes at the current width.
    // The reverse (wide table, narrow reader) stays valid.
    if (checkFreshness) parts(1).trim.split(",") match {
      case Array(_, b) if b.nonEmpty && b.forall(_.isDigit) &&
          b.toInt * 4 < buckets(spark) =>
        System.err.println(s"[indexstore] $name recorded ${b.toInt} buckets " +
          s"<< session width ${buckets(spark)} — treating as stale, will re-prime")
        return false
      case _ =>
    }
    val schema = org.apache.spark.sql.types.DataType.fromJson(parts(0))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val cluster = parts(1).trim match {
      case "" => ""
      case s =>
        val Array(k, b) = s.split(",")
        s"CLUSTERED BY ($k) SORTED BY ($k) INTO $b BUCKETS"
    }
    spark.sql(
      s"""CREATE TABLE $name (${schema.toDDL}) USING PARQUET $cluster
         |LOCATION '${location(spark, name)}'""".stripMargin)
    true
  }

  def exists(spark: SparkSession, dir: String, artifact: String): Boolean =
    registerIfNeeded(spark, tableName(dir, artifact), dir)

  def load(spark: SparkSession, dir: String, artifact: String): DataFrame = {
    val name = tableName(dir, artifact)
    registerIfNeeded(spark, name, dir)
    spark.table(name)
  }

  /** The cache getters' hook: loaded table when [[enabled]] and
    * present, else `build`.
    *
    * The LOADED branch is persisted MEMORY_AND_DISK, mirroring every
    * getter's built branch. r13/r14 first shipped it UNPERSISTED on
    * the theory that the bucketed files are the cache and caching
    * would hide their partitioning from the planner — true, but the
    * measured trade flips hard at scale: warm multi-scan consumers
    * (x16's adaptive router, d4's pair join, d11's two pair legs)
    * re-read bucketed parquet on every scan, and the sf1 bench read
    * 202s/150 in load mode vs ~89s/131 warm-RAM build mode (x16
    * alone 65s vs its 21-30s RAM band; sf0.1's +0.4s "tax" was the
    * small-scale edge of a 2-3x-per-consumer cost). The in-RAM copy
    * re-pays the r13 warm behavior; the join shuffles it re-adds are
    * the ones build mode always had. Cold first touch reads the
    * parquet once either way — INDEX_AB's cold-load win stands.
    * Direct `load`/`spark.table` reads (IndexStoreSpec's bucket
    * pruning) stay unpersisted and keep the bucketed scan. */
  /** Staleness and re-priming (ADVICE r16): when the manifest is
    * width-stale (or fingerprint-stale), this path REBUILDS in-session
    * but does not re-write — the artifact name set is enumerated by
    * [[primeIfMissing]], which Verify/Bench run at session start and
    * which sees a stale artifact as missing (exists() is false) and
    * re-primes it at the current width. That hook is the deliberate
    * single re-prime point for the standard set; a session that skips
    * priming (tests, direct API use) re-pays the build per session
    * until one that primes runs. Parameter-stamped names outside the
    * standard set use [[loadOrWrite]], which self-primes. */
  def loadOr(spark: SparkSession, dir: String, artifact: String)
            (build: => DataFrame): DataFrame =
    if (enabled && exists(spark, dir, artifact))
      load(spark, dir, artifact)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else build

  /** [[loadOr]] plus WRITE-THROUGH on a miss — the self-priming hook
    * for the parameter-stamped candidate tables (RetrievalCache) that
    * [[primeIfMissing]] can't enumerate (their names carry the probe
    * set). Safe against read-from-self by construction: the write only
    * happens when the artifact was MISSING, so the just-built df can't
    * be backed by the table it writes. A failed write degrades to
    * session-cached (stderr note), never fails the query. */
  def loadOrWrite(spark: SparkSession, dir: String, artifact: String,
                  bucketKey: Option[String])(build: => DataFrame): DataFrame =
    if (enabled && exists(spark, dir, artifact))
      load(spark, dir, artifact)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else {
      val df = build
      if (enabled) {
        try { write(df, dir, artifact, bucketKey); () }
        catch { case e: Throwable => System.err.println(
          s"[indexstore] write-through of $artifact failed (session-cached only): ${e.getMessage}")
        }
      }
      df
    }

  private[graft] def write(df: DataFrame, dir: String, artifact: String,
                           bucketKey: Option[String]): String = {
    val name = tableName(dir, artifact)
    val spark = df.sparkSession
    // an ORPHANED location (files from a previous process, metadata
    // gone with the in-memory catalog) fails saveAsTable with
    // locationAlreadyExists — Overwrite only replaces tables the
    // catalog knows about. Clear it; a catalog-known table is left to
    // the Overwrite path.
    if (!spark.catalog.tableExists(name)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), name)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    // EXTERNAL table (explicit path): dropping the catalog entry —
    // including implicitly, when a fresh JVM's in-memory catalog
    // simply doesn't have it — never deletes the index files, and
    // registerIfNeeded re-attaches them
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", location(spark, name).toString)
    bucketKey match {
      case Some(k) => w.bucketBy(buckets(spark), k).sortBy(k).saveAsTable(name)
      case None    => w.saveAsTable(name)
    }
    // cross-session manifest (see registerIfNeeded)
    val mp = manifestPath(spark, name)
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mp, true)
    try out.write(
      (df.schema.json + "\n" + bucketKey.map(k => s"$k,${buckets(spark)}").getOrElse("") +
        "\n" + corpusFingerprint(spark, dir))
        .getBytes("UTF-8"))
    finally out.close()
    name
  }

  /** Register + load `artifact` even when its manifest fingerprint
    * does not match `dir`'s CURRENT corpus — the incremental-append
    * path's read primitive (the artifacts were built on the corpus
    * BEFORE the delta landed, which is exactly why the append is
    * needed). Returns None when no manifest exists at all.
    *
    * CONTRACT: a catalog-registered table short-circuits the
    * freshness check for the rest of the session, so the caller must
    * either complete the migration ([[refreshManifest]] /
    * [[appendRows]]) or undo the registration
    * ([[dropRegistration]]) before returning. */
  private[graft] def loadStale(spark: SparkSession, dir: String,
                               artifact: String): Option[DataFrame] = {
    val name = tableName(dir, artifact)
    if (registerIfNeeded(spark, name, dir, checkFreshness = false))
      Some(spark.table(name))
    else None
  }

  /** Drop the catalog registration of `artifact` (EXTERNAL table: the
    * files and manifest stay) — the failure-path undo for
    * [[loadStale]]'s freshness-bypass registration. */
  private[graft] def dropRegistration(spark: SparkSession, dir: String,
                                      artifact: String): Unit = {
    val name = tableName(dir, artifact)
    if (spark.catalog.tableExists(name)) spark.sql(s"DROP TABLE `$name`")
  }

  /** Append `rows` into an existing artifact table (columns are
    * matched by POSITION — the caller orders them to the table schema;
    * the catalog's bucket spec is enforced by the bucketed write) and
    * refresh the manifest fingerprint to the current corpus. */
  private[graft] def appendRows(spark: SparkSession, dir: String,
                                artifact: String, rows: DataFrame): Unit = {
    val name = tableName(dir, artifact)
    require(spark.catalog.tableExists(name),
      s"appendRows: $name is not registered — loadStale it first")
    rows.write.insertInto(name)
    refreshManifest(spark, dir, artifact)
  }

  /** Stamp `artifact`'s manifest with the CURRENT corpus fingerprint,
    * keeping schema + bucket lines — how the append path marks a
    * frozen-but-still-valid artifact (centroids, codebooks) or a
    * just-appended one as belonging to the grown corpus. */
  private[graft] def refreshManifest(spark: SparkSession, dir: String,
                                     artifact: String): Unit = {
    val name = tableName(dir, artifact)
    val mp = manifestPath(spark, name)
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(mp), s"refreshManifest: no manifest for $name")
    val in = fs.open(mp)
    val manifest =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val parts = manifest.split("\n", 3)
    require(parts.length >= 2, s"refreshManifest: malformed manifest for $name")
    val out = fs.create(mp, true)
    try out.write((parts(0) + "\n" + parts(1) + "\n" +
      corpusFingerprint(spark, dir)).getBytes("UTF-8"))
    finally out.close()
  }

  /** The standard artifact set for `dir`'s corpus: (name, builder,
    * bucket key). Builders go through the session caches — anything
    * queries already built is shared — and are DEPENDENCY-ORDERED:
    * later builders consume earlier artifacts through the getters
    * (doclengths reads docwordtf, pqcodes reads centroids, ...). */
  private def artifactSet(spark: SparkSession, dir: String,
                          n: Int, perms: Int, bands: Int)
      : Seq[(String, () => DataFrame, Option[String])] = {
    import graft.ann.CellIndexCache
    import graft.dedup.{ClusterCache, Dedup}
    import org.apache.spark.sql.functions.{col, expr}
    Seq(
      ("cells", () => CellIndexCache.embeddingsWithCell(spark, dir),
        Some("cell")),
      ("centroids", () => {
        val k2 = CellIndexCache.embeddings(spark, dir).k2
        CellIndexCache.centroids(spark, dir)
          .select(expr(s"c_cell div $k2").as("g_grp"), col("c_cell"), col("c_vec"))
      }, Some("g_grp")),
      ("gcents", () => CellIndexCache.groupCentroids(spark, dir), None),
      ("pqcodebook", () => CellIndexCache.pqCodebook(spark, dir), None),
      ("pqcodes", () => CellIndexCache.pqCodes(spark, dir), Some("c_cell")),
      ("rawpqcodebook", () => CellIndexCache.rawPqCodebook(spark, dir), None),
      ("rawpqcodes", () => CellIndexCache.rawPqCodes(spark, dir), Some("__vid")),
      ("pairs", () => CellIndexCache.scaledPairs(spark, dir), Some("id_a")),
      (s"postings_n$n", () => ClusterCache.postings(spark, dir, n),
        Some("shingle")),
      (s"shingledf_n$n", () => ClusterCache.shingleDf(spark, dir, n),
        Some("shingle")),
      (s"minhash_n${n}_p${perms}_b$bands",
        () => ClusterCache.minhashPairs(spark, dir, n, perms, bands),
        Some("id_a")),
      (s"clusters_n${n}_p${perms}_b$bands",
        () => ClusterCache.documents(spark, dir, n, perms, bands),
        Some("doc_id")),
      ("docwordtf", () => ClusterCache.docWordTf(spark, dir), Some("w")),
      (graft.multimodal.ChunkCache.chunksArtifact(64),
        () => graft.multimodal.ChunkCache.chunks(spark, dir, 64),
        Some("doc_id")),
      ("doclengths", () => ClusterCache.docLengths(spark, dir),
        Some("doc_id")),
      // the verified-pair family (r15): RAW builders, not the getters —
      // the getters write through on a miss (loadOrWrite), so routing
      // them through primeIfMissing would double-write; built here they
      // prime once and the getters load. Parameters match the committed
      // consumers (d4/d11 τ=0.12, x16 τ=0.6, x15 k3/w4/m2); other
      // parameterizations still self-prime via the getters' write-through.
      (ClusterCache.jaccardPairsArtifact(n, 0.12),
        () => Dedup.ngramJaccardPairsFrom(ClusterCache.postings(spark, dir, n),
          0.12, dfcPre = Some(ClusterCache.shingleDf(spark, dir, n)),
          statsPre = Some(ClusterCache.dfSkewStats(spark, dir, n))),
        Some("id_a")),
      (ClusterCache.containmentPairsArtifact(n, 0.6),
        () => Dedup.containmentPairsFrom(ClusterCache.postings(spark, dir, n),
          0.6, dfcPre = Some(ClusterCache.shingleDf(spark, dir, n)),
          statsPre = Some(ClusterCache.dfSkewStats(spark, dir, n))),
        Some("id_a")),
      (ClusterCache.winnowPairsArtifact(3, 4, 2),
        () => Dedup.winnowPairs(graft.sources.Tables.documents(spark, dir),
          "doc_id", "text", 3, 4, 2),
        Some("id_a")),
      (CellIndexCache.semanticClustersArtifact(0.4),
        () => Dedup.connectedComponents(
          graft.sources.Tables.embeddings(spark, dir).select(col("vec_id")),
          CellIndexCache.scaledPairs(spark, dir)
            .filter(col("cos") >= 0.4).select(col("id_a"), col("id_b")),
          "vec_id"),
        Some("cluster_id")),
      (ClusterCache.dsirFeatsArtifact(4096, col("lang") === "en"),
        () => graft.operators.Pipeline.dsirFeatTable(
          graft.sources.Tables.documents(spark, dir), "doc_id", "text",
          "source", col("lang") === "en", 4096),
        Some("b")),
      // dependency-ordered: builds from the dsirfeats getter (loads
      // the artifact written by the entry above when present)
      (ClusterCache.dsirDocStatsArtifact(4096, col("lang") === "en"),
        () => graft.operators.Pipeline.dsirDocStats(
          ClusterCache.dsirFeats(spark, dir, 4096, col("lang") === "en"),
          "doc_id", "source"),
        Some("source")),
      (CellIndexCache.kmeansCentroidsArtifact(8, 2),
        () => graft.ann.Ann.kmeansCentroids(
          graft.sources.Tables.embeddings(spark, dir),
          "vec_id", "embedding", 8, 2),
        None))
  }

  /** Build and persist ALL index artifacts for `dir`'s corpus,
    * OVERWRITING any present (the measurement/rewrite entry point —
    * IndexStoreSpec). Callers must be in build mode with
    * fresh caches (GRAFT_INDEX_TABLES=0 or no valid tables on disk):
    * a getter that already LOADED artifact X would make this overwrite
    * the very table it reads. First-touch production priming is
    * [[primeIfMissing]], which skips present artifacts and has no such
    * hazard. Returns the written table names. */
  def writeAll(spark: SparkSession, dir: String,
               n: Int = 3, perms: Int = 16, bands: Int = 4): Seq[String] =
    artifactSet(spark, dir, n, perms, bands)
      .map { case (a, build, key) => write(build(), dir, a, key) }

  /** First-touch priming (the Bench/Verify session-start hook): write
    * ONLY the artifacts whose durable table is missing or stale —
    * present ones are skipped (their getters may already be serving
    * the loaded table, which is also why overwriting them from here
    * would be a read-from-self). Builders run through the session
    * caches, so a primed session's queries reuse the freshly built
    * (persisted) artifacts and the NEXT session loads everything.
    * No-op in build mode. Returns the written table names. */
  def primeIfMissing(spark: SparkSession, dir: String,
                     n: Int = 3, perms: Int = 16, bands: Int = 4): Seq[String] =
    if (!enabled) Nil
    else artifactSet(spark, dir, n, perms, bands)
      .filterNot { case (a, _, _) => exists(spark, dir, a) }
      .map { case (a, build, key) => write(build(), dir, a, key) }
}
