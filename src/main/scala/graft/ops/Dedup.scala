package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SharedHash

/** Deduplication operators over the `documents` table: exact (content hash),
  * MinHash+LSH (shingle → signature → band → bucket join → jaccard verify),
  * SimHash (hamming near-dup), exact n-gram jaccard, and embedding-cosine
  * near-dup (in Similarity.scala).
  *
  * Scale design:
  *   - Exact dedup is one hash-partitioned groupBy on the 128-bit digest —
  *     the canonical 100 TB dedup pass; the digest (16 bytes) shuffles, the
  *     document body does not.
  *   - MinHash/LSH replaces the O(n²) pairwise scan with an O(n·bands)
  *     explode + self-join on band buckets; only bucket collisions are
  *     verified with the exact jaccard. All hashing is codegen'd built-ins
  *     (md5/conv/transform/array_min) — no UDFs in the hot path.
  *   - Signatures use the SharedHash family so the DuckDB oracle can check
  *     them bit-for-bit (rare for sketch operators).
  */
object Dedup {
  val NumMinHash = 16
  /** 8 bands × 2 rows: P(candidate) = 1-(1-j²)^8 — 0.97 at j=0.6. */
  val NumBands = 8
  val RowsPerBand: Int = NumMinHash / NumBands
  val JaccardThreshold = 0.5
  val SimHashBits = 32
  val SimHashBits64 = 64
  val HammingThreshold = 2

  val minhashSeeds: IndexedSeq[(Long, Long)] = SharedHash.seeds(NumMinHash)

  /** 3-token shingle expression over a `tokens` array column (docs shorter
    * than 3 tokens fall back to the whole text as a single shingle). */
  val shingleExpr: String =
    """CASE WHEN size(tokens) >= 3 THEN
      |  transform(sequence(1, size(tokens) - 2), i ->
      |    concat_ws(' ', element_at(tokens, i), element_at(tokens, i + 1),
      |              element_at(tokens, i + 2)))
      |ELSE array(text) END""".stripMargin

  /** SQL formulation of the shingle hashes — the oracle's structural twin;
    * Round4Spec pins the native expression against it bit-for-bit. */
  private[ops] def shingledSql(docs: DataFrame): DataFrame =
    docs
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("sh", expr(shingleExpr))
      .withColumn("hs", expr(s"transform(sh, x -> ${SharedHash.spark48("x")})"))
      .select(col("doc_id"), col("text"), col("sh"), col("hs"))

  /** doc_id + shingle array + base-hash array. The hashes come from the
    * native [[graft.functions.ShingleHashes]] expression (one pass, digest
    * fed token bytes directly — no interpreted lambdas, no per-shingle
    * string materialization on the hash path); the `sh` strings are still
    * built for the exact-jaccard verify joins that need them. */
  def shingled(docs: DataFrame): DataFrame = {
    graft.functions.ShingleHashes.register(docs.sparkSession)
    docs
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("sh", expr(shingleExpr))
      .withColumn("hs", expr("shingle_hashes(tokens, text)"))
      .select(col("doc_id"), col("text"), col("sh"), col("hs"))
  }

  def withShingles(s: SparkSession, dir: String): DataFrame =
    shingled(Tables.documents(s, dir))

  // --- exact ---------------------------------------------------------------

  /** Exact dedup groups: content digest → keeper (min id) + copy count. */
  def exactGroups(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy(col("fp"))

  /** doc_ids that lose exact dedup (non-minimal doc_id within a digest
    * group). Computed over the narrow (digest, doc_id) projection — only
    * 24 bytes/row ever shuffle, never the document body — and the result
    * is small by construction (∝ duplicate density, not corpus size). */
  def exactNonKeepers(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp"))
    docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"))
  }

  /** The surviving documents after exact dedup (min doc_id per digest).
    * Shaped as an anti-join against the small non-keeper set so the
    * document bodies stay where they are: the only slim shuffle is the
    * digest window, and AQE broadcasts the anti-join's right side when its
    * runtime size allows (typical: dup density ≪ corpus) — the difference
    * between shuffling 100 TB of bodies and shuffling a few GB of ids.
    * (No broadcast hint on purpose: a pathologically duplicate-heavy
    * corpus must be able to fall back to a shuffled anti-join.) */
  def exactKeep(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    docs.join(exactNonKeepers(docs), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Policy-keeper dedup over CANONICAL groups: within each
    * canonicalized-content group keep the HIGHEST-QUALITY copy (longest
    * raw text, ties to the smaller doc_id) rather than the arbitrary
    * min-id — what production curation keeps when near-identical copies
    * differ in formatting/provenance (CCNet keeps the best-scored copy;
    * the policy is the window order, pluggable). Exact duplicates are
    * byte-identical so a policy can't distinguish them — it's the
    * canonical tier (case/punct/whitespace variants, which DO differ in
    * raw length) where the choice matters. Same scale shape as
    * [[exactKeep]]: one digest window over narrow rows, bodies never
    * shuffle. */
  def exactKeepByPolicy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(canonicalText(col("text"))).as("fp"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Near-exact dedup via text canonicalization: lowercase, map each run
    * of non-alphanumerics to a single space, trim — then the same
    * digest-group shape as [[exactGroups]]. Catches the trivial-variant
    * duplicates (case, punctuation, whitespace) that exact hashing misses
    * and MinHash is overkill for; in a production curation stack this runs
    * between the two (CCNet/RefinedWeb both canonicalize before hashing).
    * Same scale shape as exact dedup: one codegen'd projection chain, one
    * 16-byte-digest groupBy; bodies never shuffle. Canonicalization
    * variants collapsing to one group are spec-asserted (DedupSpec). */
  def canonicalGroups(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(canonicalText(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy(col("fp"))

  /** The canonical form — RE2-compatible regexes so the DuckDB oracle
    * replays the identical chain ('g' flag) and digests hash-match. */
  def canonicalText(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  // --- MinHash + LSH -------------------------------------------------------

  /** SQL formulation of the signature — the oracle's structural twin;
    * DedupSpec pins the native expression against it bit-for-bit. */
  private[ops] def signaturesFromSql(shingled: DataFrame): DataFrame = {
    val sigCols = minhashSeeds.zipWithIndex.map { case ((a, b), k) =>
      expr(s"array_min(transform(hs, h -> pmod($a * pmod(h, ${SharedHash.P}) + $b, ${SharedHash.P})))")
        .as(s"mh_$k")
    }
    shingled.select(col("doc_id") +: sigCols: _*)
  }

  private[graft] def signaturesFrom(shingled: DataFrame): DataFrame = {
    graft.functions.MinHashSigs.register(shingled.sparkSession)
    require(graft.functions.MinHashSigsImpl.K == NumMinHash,
      "native MinHash family size drifted from Dedup.NumMinHash")
    val sigCols = (0 until NumMinHash).map(k =>
      element_at(col("__mh"), k + 1).as(s"mh_$k"))
    shingled
      .withColumn("__mh", expr("minhash_sigs(hs)"))
      .select(col("doc_id") +: sigCols: _*)
  }

  /** doc_id + the full MinHash signature (one column per hash function). */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    signaturesFrom(withShingles(s, dir)).orderBy(col("doc_id"))

  /** Near-duplicate pairs via LSH banding + exact-jaccard verification.
    * The shingled frame is cached: it feeds the band build once and the
    * verify join twice — uncached, the tokenize+shingle+md5 pass would run
    * 3x (the dominant cost; candidates are few by construction). */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsFrom(Tables.documents(s, dir))

  /** As minhashPairs, over any (doc_id, text, ...) frame (sorted for
    * presentation — consumers that feed the pairs into further dataflow
    * should use [[minhashPairsRaw]] and skip the range-partition + sort). */
  def minhashPairsFrom(docs: DataFrame): DataFrame =
    minhashPairsRaw(docs).orderBy(col("doc_a"), col("doc_b"))

  /** (doc_id, band, key) rows from a signature frame — band key =
    * concatenated signature rows of the band. Shared by the self-join pair
    * path and the bipartite incremental path. */
  private[graft] def bandsFrom(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map { j =>
      val keyCols = (0 until RowsPerBand)
        .map(r => col(s"mh_${j * RowsPerBand + r}"))
      struct(lit(j).as("band"), concat_ws("_", keyCols: _*).as("key"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))
  }

  /** Band keys hashed to one fixed-width int64 (native xxhash64) — the
    * wire form the PERSISTED dedup index stores and every index probe
    * joins on. The concatenated minhash-string key averages ~50 bytes ×
    * 16 bands × corpus rows; at standing-index scale that string column
    * IS the probe's dominant I/O (r14 ×10 A/B: the indexed probes lost
    * to recomputation on exactly this read). An 8-byte key cuts it ~6×.
    * Candidate-set semantics survive hashing: a 64-bit collision can
    * only ADD a candidate pair, and every candidate is re-verified by
    * exact shingle jaccard before any verdict — so outputs are
    * byte-identical and the indexed variants keep SHARING their direct
    * twins' DuckDB oracles (which replay the string-key join). */
  private[graft] def hashedBands(bands: DataFrame): DataFrame =
    bands.withColumn("key", xxhash64(col("key")))

  /** Unordered near-dup pair graph — the dataflow-shaped variant. */
  def minhashPairsRaw(docs: DataFrame): DataFrame = {
    val shingled = Dedup.shingled(docs).cache()
    shingled.count() // force: the band self-join + two verify joins are
                     // multiple consumers — unmaterialized, each would
                     // re-run the tokenize+shingle+md5 pass
    val bands = bandsFrom(signaturesFrom(shingled))

    val cands = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    val sh = shingled.select(col("doc_id"), col("sh"))
    val pairs = cands
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // pair sets are ∝ duplicate density, never corpus size — materialize
    // them and drop the (large) shingle cache so no blocks leak to callers
    Caching.materializeAndRelease(pairs, shingled)
  }

  /** Cross-source duplication matrix — "where is my duplication coming
    * from": the near-dup pair graph rolled up by unordered source pair.
    * A curation team reads this to decide which crawl/feed pairs to
    * de-prioritize or to gate against each other. Cost on top of the
    * pair graph (∝ duplicate density) is two joins against a slim
    * (doc_id, source) projection plus a tiny grouped count — the matrix
    * itself is |sources|² regardless of corpus size. */
  def sourceDupMatrix(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    minhashPairsRaw(Tables.documents(s, dir))
      .join(src.toDF("doc_a", "src_a"), "doc_a")
      .join(src.toDF("doc_b", "src_b"), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_x"), col("source_y"))
  }

  /** Asymmetric containment pairs: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| over
    * distinct shingles — the measure that catches QUOTATION-style
    * duplication (a small doc fully embedded in a large one) which
    * symmetric jaccard dilutes toward 0. Same scale recipe as
    * [[minhashPairsRaw]]: banded-LSH candidates gate the exact verify, so
    * work ∝ collisions; candidates resolved by a slim (doc_id, shingles)
    * join against the shared cache. Both directions are emitted so the
    * consumer can tell "A quotes B" from "B quotes A". */
  def containmentPairs(s: SparkSession, dir: String,
      threshold: Double = 0.4): DataFrame = {
    val shingled = shingled0(Tables.documents(s, dir))
    val bands = bandsFrom(signaturesFrom(shingled))
    val cands = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sh = shingled.select(col("doc_id"), array_distinct(col("sh")).as("shd"))
    val pairs = cands
      .join(sh.toDF("doc_a", "sh_a"), "doc_a")
      .join(sh.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("cont_a", round(col("shared") / size(col("sh_a")), 4))
      .withColumn("cont_b", round(col("shared") / size(col("sh_b")), 4))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cont_a"), col("cont_b"))
      .orderBy(col("doc_a"), col("doc_b"))
    Caching.materializeAndRelease(pairs, shingled)
  }

  /** The cached+forced shingle frame [[minhashPairsRaw]] documents. */
  private def shingled0(docs: DataFrame): DataFrame = {
    val sh = shingled(docs).cache()
    sh.count()
    sh
  }

  /** Connected components over a near-dup pair graph via min-label
    * propagation: each node repeatedly adopts the smallest label among
    * itself and its neighbors until fixpoint. Converges in O(component
    * diameter) join rounds — near-dup clusters are shallow, so a handful.
    * (Measured at 1.2M edges incl. a 2000-node chain: 11 rounds = exactly
    * the pointer-doubling ⌈log₂ diameter⌉ bound, result identical to
    * union-find — BENCH.md "Connected components at 1M+ edges". The
    * large-star/small-star alternative is the same O(log) round class, so
    * it was measured-and-rejected rather than implemented.)
    *
    * This is what turns pair output into an actual dedup decision: one
    * keeper (the cluster id = min doc_id) per transitive duplicate group.
    */
  def connectedComponents(pairs: DataFrame,
      driverThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    // Cache the narrow pair projection FIRST: the union below consumes it
    // twice, and Spark does not share common subplans across union branches —
    // uncached, the entire upstream pipeline (for minhash pairs: the whole
    // shingle→band-join→jaccard-verify dataflow) would execute once per
    // branch. One materialization here, both branches + the count read it.
    val p = pairs.select(col("doc_a"), col("doc_b")).cache()
    p.count() // force: the union's branches are concurrent stages — without
              // a materialized cache each would compute the pipeline itself
    // localCheckpoint flattens the union into a LogicalRDD: the iterative
    // joins below would otherwise re-trigger the Union constraint rewrite
    // every round (and hit its self-join AttributeMap bug in Spark 4.1).
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().localCheckpoint()
    val nEdges = edges.count()

    val result = if (nEdges <= driverThreshold) {
      // dedup pair graphs are tiny relative to the corpus (edges ∝ true
      // duplicates) — below the threshold, a driver union-find beats ~10
      // distributed join rounds by an order of magnitude. Same escape
      // hatch production CC implementations use.
      import spark.implicits._
      val es = edges.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(n => (n, find(n))).toSeq.toDF("doc_id", "cluster")
    } else {
      // min-label propagation + pointer doubling: each round a node takes
      // the min label over itself and its neighbors (one hop), THEN adopts
      // its label's own label (doubling). Neighbor hops alone converge in
      // O(component diameter) rounds — a 500-node chain would blow the
      // round cap; doubling compresses chains geometrically, so rounds are
      // O(log diameter) and the cap of 25 covers any graph of diameter
      // < 2^25. Same join-shaped dataflow, shuffle-partitioned on node id.
      var labels = edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")).cache()
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < 25) {
        // neighbor hop, folded in via left join + least (NOT a
        // labels.union(msgs) self-union — the same frame in both union
        // branches trips Catalyst's union constraint rewrite in 4.1)
        val nbrMin = edges.join(labels, col("src") === col("node"))
          .groupBy(col("dst")).agg(min(col("label")).as("nlabel"))
        // localCheckpoint (not cache): truncates lineage so the logical
        // plan — and with it task serialization and optimizer time — stays
        // O(1) per round instead of growing with every iteration (the
        // same lineage blow-up that forces ALS's checkpoint interval).
        val hop = labels.join(nbrMin, col("node") === col("dst"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
          .localCheckpoint()
        // doubling: label(node) := min(label(node), label(label(node)))
        // (every label IS a node id, and every node id appears in `hop`,
        // but keep the left join + coalesce as belt-and-braces)
        val next = hop.as("a")
          .join(hop.select(col("node").as("lnode"), col("label").as("llabel")).as("b"),
            col("a.label") === col("b.lnode"), "left")
          .select(col("a.node").as("node"),
            least(col("a.label"), coalesce(col("b.llabel"), col("a.label"))).as("label"))
          .localCheckpoint()
        changed = next.join(labels.withColumnRenamed("label", "old"), "node")
          .filter(col("label") =!= col("old")).count()
        labels.unpersist()
        labels = next
        iter += 1
      }
      // Pointer doubling makes the cap practically unreachable (covers any
      // diameter < 2^25), but if a pathological graph ever exhausts it the
      // labels are WRONG — fail loudly rather than emit partial clusters.
      require(changed == 0,
        s"connectedComponents: min-label propagation did not converge after " +
          s"$iter rounds ($changed labels still changing)")
      labels.select(col("node").as("doc_id"), col("label").as("cluster"))
    }
    edges.unpersist()
    p.unpersist()
    result
  }

  /** Harness query: duplicate clusters from the MinHash+LSH pair graph
    * (raw pair path — clustering doesn't need the presentation sort). */
  def minhashClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashPairsRaw(Tables.documents(s, dir)))
      .orderBy(col("doc_id"))

  /** Exact-recall dedup clusters: connected components over the
    * prefix-join pair graph — the GUARANTEED twin of [[minhashClusters]].
    * Band-based clusters can miss a true pair whose signatures never
    * collide; these cannot, by the prefix filter's losslessness, so the
    * cluster assignment is a pure function of the corpus with no
    * recall gamble anywhere in the chain. Same CC machinery, same
    * output contract (cluster = min member id). */
  def exactJoinClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(prefixJoinPairs(s, dir))
      .orderBy(col("doc_id"))

  /** Policy keeper over NEAR-dup clusters — the third rung of the policy
    * ladder ([[exactKeep]] min-id over exact groups, [[exactKeepByPolicy]]
    * quality over canonical groups, this over MinHash-transitive
    * clusters): within each connected component of the near-dup graph the
    * highest-quality member survives (longest text, ties to min doc_id);
    * singletons keep themselves. The component id stays the min doc_id
    * (the CC contract) while the KEEPER is chosen by policy — the two are
    * deliberately different columns so consumers can see both. Cost on
    * top of the pair graph: one membership join against a slim
    * (doc_id, n_chars) projection and one window over cluster-sized
    * groups (∝ duplication, never corpus). */
  def minhashClustersByPolicy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val comps = connectedComponents(minhashPairsRaw(Tables.documents(s, dir)))
    val members = docs.join(comps, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    members
      .withColumn("keeper", first(col("doc_id")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("doc_id"), col("cluster"), col("keeper"),
        (col("keeper") === col("doc_id")).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Degree-oriented edges of an undirected pair graph (doc_a < doc_b
    * rows): each edge points from its lower endpoint to its higher under
    * the total order (degree, id). Out-degrees are then bounded by
    * O(√m) / graph arboricity — a hub of degree d has ALL its edges
    * pointing in, so no node ever pairs more than O(√m) out-neighbors in
    * the wedge join. Columns: src, dst, plus dst's rank (dstD, dst) so the
    * wedge join can order out-neighbors without re-joining degrees. */
  def orientEdges(pairs: DataFrame): DataFrame = {
    val und = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // deg is one row per distinct node — tiny next to the edge list (and
    // ∝ documents with at least one near-dup, not the corpus); AQE
    // broadcasts it, so orientation adds no extra edge shuffle.
    und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst"), col("dv").as("dstD")))
          .otherwise(
            struct(col("v").as("src"), col("u").as("dst"), col("du").as("dstD")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.dstD").as("dstD"))
  }

  /** Wedges of the degree-oriented graph: for each node, ordered pairs of
    * its out-neighbors — (x, y) with x before y under (degree, id). Every
    * triangle {a,b,c} (ordered a<b<c by rank) produces exactly one wedge,
    * centered at its minimum-rank node a; closing it needs edge x→y, which
    * orientation guarantees points that way. Cardinality per center is
    * C(out-degree, 2), arboricity-bounded by [[orientEdges]]. */
  def orientedWedges(pairs: DataFrame): DataFrame =
    wedgesOf(orientEdges(pairs))

  private def wedgesOf(oriented: DataFrame): DataFrame =
    oriented.as("o1")
      .join(oriented.as("o2"),
        col("o1.src") === col("o2.src") &&
          (col("o1.dstD") < col("o2.dstD") ||
            (col("o1.dstD") === col("o2.dstD") &&
              col("o1.dst") < col("o2.dst"))))
      .select(col("o1.dst").as("x"), col("o2.dst").as("y"))

  /** Triangle count over an undirected pair graph (doc_a < doc_b rows):
    * the standard MapReduce recipe — orient edges low-degree→high-degree,
    * build wedges at each node's out-neighborhood, close each wedge with
    * the oriented edge probe. Two equi-joins on edge endpoints; each
    * triangle counted exactly once (at its minimum-rank corner). The
    * orientation bounds per-key wedge cardinality by arboricity, so a
    * skewed hub (a boilerplate family every document pairs with) generates
    * ZERO wedges at the hub instead of O(deg²) — see the star-graph case
    * in Round4Spec. Graph metrics like this drive dup-cluster diagnostics
    * (a clique-y pair graph means near-identical boilerplate families). */
  def triangleCount(pairs: DataFrame): DataFrame = {
    // The oriented-edge frame feeds three join legs (two wedge sides +
    // the close probe); cache + force so the orientation (degree agg +
    // two joins) computes once, not per leg — plan-audited: uncached, the
    // whole subplan triplicates. The count result is one row, so
    // materializeAndRelease hands back a self-contained frame and drops
    // the cache before returning.
    val o = orientEdges(pairs).cache()
    o.count()
    val out = wedgesOf(o)
      .join(o.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
      .agg(count(lit(1)).as("n_triangles"))
    Caching.materializeAndRelease(out, o)
  }

  /** Harness query: triangles in the MinHash near-dup pair graph. */
  def minhashTriangles(s: SparkSession, dir: String): DataFrame =
    triangleCount(minhashPairsRaw(Tables.documents(s, dir)))

  // --- exact n-gram jaccard (bounded pairwise, the oracle-able baseline) ---

  /** Exact shingle-jaccard over all pairs of a bounded id range — the
    * correctness baseline the LSH path approximates. The bound keeps the
    * cross join O(subset²); the scale path is minhashPairs. */
  def jaccardPairs(s: SparkSession, dir: String, maxId: Long = 200,
      threshold: Double = 0.3): DataFrame = {
    val sh = withShingles(s, dir).filter(col("doc_id") < maxId)
      .select(col("doc_id"), col("sh"))
    sh.toDF("doc_a", "sh_a").join(sh.toDF("doc_b", "sh_b"),
        col("doc_a") < col("doc_b"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Prefix-filtered exact all-pairs Jaccard join (the AllPairs/PPJoin
    * family — Bayardo et al., WWW 2007; Xiao et al., TODS 2011): every
    * pair of documents in the FULL corpus whose shingle-set Jaccard is
    * ≥ `threshold`, with no candidate-recall gamble and no bounded id
    * range. This is the scalable EXACT counterpart to both
    * [[jaccardPairs]] (exact but O(n²)) and [[minhashPairsRaw]]
    * (scalable but probabilistic recall).
    *
    * The prefix-filter theorem: order every set by one global total order
    * (here ascending document frequency, rarest first, ties by hash), and
    * keep only each set's first |S| − ⌈t·|S|⌉ + 1 elements. Any pair with
    * J ≥ t must share at least one element of both prefixes, so an
    * equi-join on prefix elements is a LOSSLESS candidate generator. The
    * rarest-first order makes it sharp: frequent shingles (boilerplate)
    * land in suffixes and never generate join keys, which is also the
    * skew guard — no hot hash key can exceed the corpus' rare-token
    * collision count.
    *
    * Scale shape: the join carries only (8-byte hash, doc_id, set size);
    * document text and full shingle arrays never enter the candidate
    * shuffle. The verify join fetches arrays for candidate pairs only
    * (∝ near-dup density). Sets are 48-bit shingle hashes on BOTH sides
    * (engine and oracle), so a hash collision inflates a Jaccard
    * identically in each — the standard gram-hash trade. The threshold
    * filter uses the UNROUNDED ratio (one IEEE division, bit-identical
    * cross-engine); `jaccard` is rounded for display only. */
  def prefixJoinPairs(s: SparkSession, dir: String,
      threshold: Double = 0.3): DataFrame =
    prefixJoinPairsOf(Tables.documents(s, dir), threshold)

  /** Core of [[prefixJoinPairs]] over any (doc_id, text) frame.
    *
    * GUARDRAIL for duplicate-dense corpora: the exact answer is
    * output-quadratic in duplicate-group size (g near-identical docs →
    * g·(g−1)/2 true pairs — at a ×10 replica this query grew from 4.7 s
    * to 461 s as true pairs grew ~1000×). That cost is inherent to exact
    * all-pairs semantics, so before pointing this at a big corpus, scout
    * with [[dupGroupHistogram]] (one cheap digest aggregate); if heavy
    * groups exist, either route exact duplicates through
    * [[exactGroups]]/[[canonicalGroups]] first or pass
    * `maxCandidatesPerDoc` — a per-doc candidate budget (the ANN-nProbe
    * shape): candidates rank per doc_a by ascending doc_b and only the
    * first `c` reach the verify join, bounding verify work to O(c·n).
    * The capped output is a DETERMINISTIC SUBSET of the exact output
    * (candidates ⊇ true pairs; the rank order is unique), but which true
    * pairs fit the budget depends on the prefix-filter's candidate set,
    * so the capped variant is a work-bound policy knob, not an oracled
    * quantity — `None` (the default) preserves the exact, fully-oracled
    * semantics unchanged. */
  def prefixJoinPairsOf(docs: DataFrame, threshold: Double = 0.3,
      maxCandidatesPerDoc: Option[Int] = None): DataFrame = {
    val sets = prefixSetsOf(docs).cache()
    sets.count() // force: prefix explode + two verify legs are 3 consumers

    val prefixes = prefixesUnder(sets, prefixFreqOf(sets), threshold)
      .cache()
    prefixes.count() // force: both self-join legs read the prefix pipeline
                     // (explode + freq join + window) — uncached it runs 2×

    val cand0 = prefixes.toDF("h", "doc_a", "sz_a", "pa")
      .join(prefixes.toDF("h2", "doc_b", "sz_b", "pb"),
        col("h") === col("h2") && col("doc_a") < col("doc_b") &&
          // length filter: J ≥ t forces t·|A| ≤ |B| ≤ |A|/t
          col("sz_a") >= col("sz_b") * threshold &&
          col("sz_b") >= col("sz_a") * threshold &&
          // positional filter — prunes match rows whose overlap upper
          // bound cannot reach t; lossless (see positionalFit)
          positionalFit(threshold))
      .select(col("doc_a"), col("doc_b")).distinct()

    val cand = maxCandidatesPerDoc match {
      case None => cand0
      case Some(c) =>
        // deterministic candidate budget: the window ranks (id, id) rows
        // only — document text/arrays never enter this shuffle
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("doc_a")).orderBy(col("doc_b"))
        cand0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= c).drop("__rn")
    }

    val pairs = verifyExactPairs(cand, sets, sets, threshold)
    Caching.materializeAndRelease(pairs, sets, prefixes)
  }

  /** Duplicate-group size histogram — the PRE-JOIN scout for the exact
    * pair family: (group_size, n_groups) over exact-content digest
    * groups. Output rows ~ distinct group sizes (tiny); cost is one
    * digest aggregate — bodies never shuffle. A corpus whose histogram
    * has heavy tails (say a 10k-doc group → 5·10⁷ true pairs from that
    * group alone) makes the quadratic cost of [[prefixJoinPairsOf]]
    * VISIBLE before anyone pays it. */
  def dupGroupHistogram(s: SparkSession, dir: String): DataFrame =
    dupGroupHistogramOf(Tables.documents(s, dir))

  def dupGroupHistogramOf(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups"))
      .orderBy(col("group_size"))

  /** Upper bound on the prefix join's CANDIDATE-pair count:
    * Σ_h c_h·(c_h−1)/2 over prefix-element frequencies. This is the
    * number the join's shuffle + verify cost actually scales with, and —
    * unlike [[dupGroupHistogramOf]]'s exact-digest floor — it sees
    * NEAR-dup families (which keep distinct digests but share prefix
    * hashes). Cost: one cached shingle-set pass (freq + prefix
    * derivations both read it), then one vocabulary-sized aggregate — so
    * a planner can price the join before paying for it and decide
    * between exact, capped, or cluster-first execution. */
  def candidatePairBound(docs: DataFrame, threshold: Double = 0.3): Long = {
    val sets = prefixSetsOf(docs).cache()
    sets.count() // force: freq and prefix derivations share the one pass
    val r = prefixesUnder(sets, prefixFreqOf(sets), threshold)
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2"))).collect()(0)
    sets.unpersist()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** (doc_id, distinct 48-bit shingle-hash set, size) — the set frame
    * every prefix-filter op works over. */
  private[graft] def prefixSetsOf(docs: DataFrame): DataFrame =
    shingled(docs)
      .select(col("doc_id"), array_distinct(col("hs")).as("hs"))
      .withColumn("sz", size(col("hs")).cast("long"))

  /** Document-frequency dictionary (h, f) of a set frame — the global
    * rarest-first order's sort key. */
  private[graft] def prefixFreqOf(sets: DataFrame): DataFrame =
    sets.select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("f"))

  /** Per-doc prefixes (h, doc_id, sz, pos) of `sets` under the (f, h)
    * total order given by `freq`; tokens absent from the dictionary order
    * FIRST (f = 0 — they are the rarest possible). Prefix length is
    * |S| − ⌈t·|S|⌉ + 1, the lossless bound. `pos` is the element's 1-based
    * rank within the doc's FULL sorted set — the input to the positional
    * filter ([[positionalFit]]). Correctness needs only that BOTH joined
    * sides use the SAME dictionary — stale frequencies blunt pruning
    * sharpness, never recall, which is what lets a persisted dictionary
    * be rebuilt periodically instead of per-append. */
  private[graft] def prefixesUnder(sets: DataFrame, freq: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("f"), col("h"))
    sets.select(col("doc_id"), col("sz"), explode(col("hs")).as("h"))
      .join(freq, Seq("h"), "left")
      .withColumn("f", coalesce(col("f"), lit(0L)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("h"), col("doc_id"), col("sz"), col("rnk").as("pos"))
  }

  /** The PPJoin positional filter (Xiao et al., TODS 2011 §3.2; r16
    * verdict #3 — shrink the CANDIDATE set, never the emitted pairs): for
    * a prefix element matched at 1-based sorted-set positions (pa, pb) of
    * docs sized (sz_a, sz_b), every other common element lies strictly
    * after both positions, so the overlap is at most
    * ub = 1 + min(sz_a − pa, sz_b − pb) and the pair's Jaccard is at most
    * ub / (sz_a + sz_b − ub). Keep the match row only when that bound
    * reaches `threshold`.
    *
    * LOSSLESS against [[verifyExactPairs]]'s own arithmetic: for any pair
    * the verify keeps, its FIRST common element (in the shared (f, h)
    * order) is in both prefixes (the prefix theorem) and satisfies
    * o ≤ ub, hence exactly ub/(sz_a+sz_b−ub) ≥ o/(sz_a+sz_b−o) = jraw —
    * and IEEE division is monotone, so the computed bound ratio ≥ the
    * computed jraw ≥ threshold. That row survives, the pair reaches the
    * verify, and the output is row-identical (the DuckDB oracles replay
    * the UNfiltered candidate join — hash equality is the proof). */
  private[graft] def positionalFit(threshold: Double): Column = {
    val ub = lit(1L) + least(col("sz_a") - col("pa"), col("sz_b") - col("pb"))
    ub / (col("sz_a") + col("sz_b") - ub) >= threshold
  }

  /** Exact Jaccard verify of candidate (doc_a, doc_b) pairs against the
    * two sides' set frames; threshold on the unrounded IEEE ratio. */
  private[graft] def verifyExactPairs(cand: DataFrame, aSets: DataFrame,
      bSets: DataFrame, threshold: Double): DataFrame =
    cand
      .join(aSets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(bSets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        col("sz").as("sz_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jraw",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jraw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jraw"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Exact-similarity intake probe: delta docs against the standing
    * corpus via its PERSISTED prefix index — the exact-recall member of
    * the incremental triage family ([[incrementalDedupIndexed]] is the
    * MinHash-probabilistic one). Emits (standing doc_a, delta doc_b,
    * jaccard) for every cross pair with Jaccard ≥ t; the prefix filter's
    * losslessness makes the recall guarantee exact, not banded.
    *
    * Cost is O(delta prefixes × collisions) INCLUDING the standing side:
    * the standing corpus's text is never read — only its vocabulary-sized
    * df dictionary (the frozen order both sides must share), its prefix
    * table (the join's build side), and, for verified candidates only,
    * its set table.
    *
    * The probe's OUTPUT still scales with true cross-pair count — a
    * delta doc that duplicates a large standing family reports every
    * member (30.5× at the ×30 replica). An intake deployment wants the
    * triage verdict, not the full match list, so `maxCandidatesPerDoc`
    * bounds verify work and output to the first `c` standing candidates
    * per DELTA doc (ranked by ascending doc_a — deterministic, so the
    * capped probe is a replayable subset of the exact one). `None`
    * keeps the exact, fully-oracled semantics unchanged. */
  def prefixProbe(deltaDocs: DataFrame,
      idx: graft.sources.IndexStore.PrefixIndex,
      threshold: Double = JaccardThreshold,
      maxCandidatesPerDoc: Option[Int] = None): DataFrame = {
    val dSets = prefixSetsOf(deltaDocs).cache()
    dSets.count() // force: prefix derivation + verify leg both read it
    val dPref = prefixesUnder(dSets, idx.freq, threshold)
    val cand0 = idx.prefixes.toDF("h", "doc_a", "sz_a", "pa")
      .join(dPref.toDF("h2", "doc_b", "sz_b", "pb"),
        col("h") === col("h2") &&
          col("sz_a") >= col("sz_b") * threshold &&
          col("sz_b") >= col("sz_a") * threshold &&
          // positional filter — both sides' positions are ranked under
          // the SAME frozen dictionary, so the first-common-element
          // argument holds verbatim; lossless (see positionalFit)
          positionalFit(threshold))
      .select(col("doc_a"), col("doc_b")).distinct()
    val cand = maxCandidatesPerDoc match {
      case None => cand0
      case Some(c) =>
        // the intake budget partitions by the DELTA doc: each arriving
        // doc reports its first c standing matches, not all of them
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("doc_b")).orderBy(col("doc_a"))
        cand0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= c).drop("__rn")
    }
    val pairs = verifyExactPairs(cand, idx.sets, dSets, threshold)
    Caching.materializeAndRelease(pairs, dSets)
  }

  /** Harness query: [[prefixProbe]] with the hash-bucket delta split and
    * the memoized standing index. */
  def prefixProbeIndexed(s: SparkSession, dir: String): DataFrame = {
    val (inc, _) = deltaSplit(Tables.documents(s, dir))
    prefixProbe(inc, graft.sources.IndexStore.standingPrefixIndex(s, dir))
  }

  /** Edit-distance near-dup pairs over document heads (bounded id range —
    * levenshtein is O(len²) per pair, so the scale path always gates it
    * behind a cheap candidate filter like minhashPairs; this is the exact
    * verify primitive). */
  def editDistancePairs(s: SparkSession, dir: String, maxId: Long = 150,
      headLen: Int = 40, maxDist: Int = 10): DataFrame = {
    val heads = Tables.documents(s, dir).filter(col("doc_id") < maxId)
      .select(col("doc_id"), substring(col("text"), 1, headLen).as("head"))
    heads.toDF("doc_a", "head_a").join(heads.toDF("doc_b", "head_b"),
        col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("head_a"), col("head_b")))
      .filter(col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** ExactSubstr span REMOVAL (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — the removal pass, not just pair
    * detection): every occurrence of a [[SubstrGramLen]]-token gram that
    * appears ≥ 2 times in the corpus is masked, and the document is
    * rebuilt from its uncovered tokens. This is what the suffix-array
    * pipeline actually ships — the duplicated SPAN is dropped, the
    * document survives.
    *
    * Scale shape: strictly wordcount-shaped, better than the pairs op —
    * no self-join anywhere. One (doc_id, pos, 8-byte hash) explode, one
    * count-by-hash aggregate, one semi-join back, one per-doc fold that
    * turns start positions into a covered-index set via codegen HOFs.
    * Text never shuffles; the rebuild happens where the document already
    * sits. Hash collisions (48-bit) can mask an innocent span — the
    * standard gram-hash trade, identical in the oracle, so the output
    * remains hash-exact.
    *
    * Split/join round-trip is exact: `split(text, ' ')` keeps empty
    * tokens, so `array_join(..., ' ')` of the untouched token list is the
    * original text byte-for-byte. */
  def substringSpanRemoval(s: SparkSession, dir: String,
      gramLen: Int = SubstrGramLen): DataFrame = {
    def tokenized = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
    val occExpr =
      s"""transform(sequence(1, size(tokens) - ${gramLen - 1}), i ->
         |  struct(i AS pos,
         |    ${SharedHash.spark48(s"array_join(slice(tokens, i, $gramLen), ' ')")} AS h))"""
        .stripMargin.replaceAll("\n", " ")
    val occ = tokenized.filter(size(col("tokens")) >= gramLen)
      .select(col("doc_id"), explode(expr(occExpr)).as("o"))
      .select(col("doc_id"), col("o.pos").as("pos"), col("o.h").as("h"))
      .cache()
    occ.count() // two consumers: the dup aggregate + the position join
    val dup = occ.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    // start positions only reach docs that own a duplicated occurrence, so
    // this frame is small ∝ duplication density — the ONLY thing pinned;
    // the corpus-sized rebuild below streams off a fresh scan.
    // collect_list order doesn't matter — the fold distinct+sorts.
    val covStarts = Caching.materializeAndRelease(
      occ.join(dup, "h")
        .groupBy(col("doc_id"))
        .agg(collect_list(col("pos")).as("starts")),
      occ)
    tokenized.join(covStarts, Seq("doc_id"), "left")
      .withColumn("cov", expr(
        s"""array_sort(array_distinct(flatten(transform(
           |  coalesce(starts, cast(array() AS ARRAY<INT>)),
           |  p -> sequence(p, p + ${gramLen - 1})))))"""
          .stripMargin.replaceAll("\n", " ")))
      .select(col("doc_id"),
        size(col("tokens")).as("n_tokens"),
        size(col("cov")).as("n_dropped"),
        expr("array_join(transform(" +
          "filter(sequence(1, size(tokens)), i -> NOT array_contains(cov, i))," +
          " i -> element_at(tokens, i)), ' ')").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  // --- incremental dedup (new batch vs existing corpus) --------------------

  /** The harness's delta convention, shared by every incremental operator
    * (incrementalDedup, winnowProbe, BloomGate, Corpus.contamination):
    * hash bucket 9 of doc_id is the incoming batch, the rest is the
    * standing corpus. Returns (incoming, standing). */
  private[graft] def deltaSplit(docs: DataFrame): (DataFrame, DataFrame) = {
    val bucket =
      expr(s"pmod(${SharedHash.spark48("cast(doc_id AS STRING)")}, 10)")
    val b = docs.withColumn("__b", bucket)
    (b.filter(col("__b") === 9).drop("__b"),
      b.filter(col("__b") =!= 9).drop("__b"))
  }

  /** Dedup a NEW batch against an EXISTING corpus — the shape a continuous
    * ingestion pipeline actually runs (a crawl delta lands; nothing already
    * curated may be recomputed). The harness split: hash bucket 9 of doc_id
    * is the incoming batch, the rest is the standing corpus (same
    * convention as Corpus.contamination).
    *
    * Verdicts per incoming doc:
    *   - exact: its content digest already exists (16-byte digest semi-join;
    *     bodies never shuffle)
    *   - near:  ≥1 standing doc within MinHash-jaccard threshold, found by
    *     a BIPARTITE band join — incoming bands probe existing bands, so
    *     work is O(delta × collisions), never O(corpus²)
    *   - novel: neither
    *
    * This variant recomputes the standing side's digest/band/shingle
    * tables in-query; [[incrementalDedupIndexed]] answers the identical
    * question from the PERSISTED standing index
    * ([[graft.sources.IndexStore]]) — the form an intake pipeline runs at
    * scale, where the standing corpus is never rescanned. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val (inc, ex) = deltaSplit(Tables.documents(s, dir))
    val shEx = shingled(ex).cache(); shEx.count()
    incrementalVerdicts(inc,
      ex.select(md5(col("text")).as("fp")).distinct(),
      hashedBands(bandsFrom(signaturesFrom(shEx))),
      shEx.select(col("doc_id"), col("sh")),
      alsoRelease = Seq(shEx))
  }

  /** [[incrementalDedup]] probing the persisted standing index instead of
    * recomputing it: the digest / band / shingle tables are read from the
    * [[graft.sources.IndexStore]] parquet index (built once per standing
    * corpus, appended per intake batch), so per-batch work is
    * O(delta × collisions) INCLUDING the standing side — the 100 TB intake
    * shape. Output is byte-identical to [[incrementalDedup]] (same oracle). */
  def incrementalDedupIndexed(s: SparkSession, dir: String): DataFrame = {
    val (inc, _) = deltaSplit(Tables.documents(s, dir))
    // all three probe tables come from the persisted index; measured at
    // ×30 (r14): 6.27 s vs the recompute twin's 6.47 — the int64 band
    // keys (hashedBands) are what closed the r13 string-key gap
    triageAgainstIndex(inc, graft.sources.IndexStore.standingDedupIndex(s, dir))
  }

  /** Exact + near triage of an arbitrary (doc_id, text) batch against a
    * persisted dedup index — the per-batch body of the streaming triage
    * sink and of [[incrementalDedupIndexed]]. */
  def triageAgainstIndex(inc: DataFrame,
      idx: graft.sources.IndexStore.DedupIndex): DataFrame =
    incrementalVerdicts(inc,
      idx.digests.select(col("fp")).distinct(),
      idx.bands,
      idx.shingles,
      alsoRelease = Nil)

  /** Shared verdict dataflow over an incoming batch and the standing
    * side's three probe tables — however those were obtained (computed
    * in-query or read from the persisted index).
    *
    * `exBands` must be in [[hashedBands]] key form (the persisted index
    * stores exactly that; in-query callers wrap their computed bands) —
    * the inc side is hashed here to match. The r14 A/B also tried a
    * candidate-pruned verify (re-shingle only the collision docs' text
    * instead of streaming the persisted shingle table): it LOST at both
    * replica scales once band keys were fixed-width — the extra
    * documents re-scan plus the candidate-set materialization barrier
    * cost more than the straight shingle-table read — so the plain
    * frame stays. */
  private def incrementalVerdicts(inc: DataFrame, exDigests: DataFrame,
      exBands: DataFrame, exShingles: DataFrame,
      alsoRelease: Seq[DataFrame]): DataFrame = {
    val exactIds = inc.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(exDigests, "fp")
      .select(col("doc_id")).distinct()
      .withColumn("is_exact", lit(true))

    val shInc = shingled(inc).cache(); shInc.count()
    val cands = hashedBands(bandsFrom(signaturesFrom(shInc))).as("x")
      .join(exBands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("inc_id"), col("y.doc_id").as("ex_id"))
      .distinct()
    val near = cands
      .join(shInc.select(col("doc_id").as("inc_id"), col("sh").as("sh_a")), "inc_id")
      .join(exShingles.select(col("doc_id").as("ex_id"), col("sh").as("sh_b")), "ex_id")
      .filter(round(
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))), 4) >= JaccardThreshold)
      .groupBy(col("inc_id")).agg(count(lit(1)).as("n_near"))
      .withColumnRenamed("inc_id", "doc_id")

    val out = inc.select(col("doc_id"))
      .join(exactIds, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .withColumn("is_exact", coalesce(col("is_exact"), lit(false)))
      .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
      .withColumn("verdict",
        when(col("is_exact"), "exact")
          .when(col("n_near") > 0, "near")
          .otherwise("novel"))
      .orderBy(col("doc_id"))
    Caching.materializeAndRelease(out, (shInc +: alsoRelease): _*)
  }

  // --- exact substring duplication (gram-hash join) ------------------------

  val SubstrGramLen = 16
  /** Grams occurring in more docs than this are dropped before the pair
    * join: boilerplate grams both (a) aren't duplication evidence and (b)
    * are exactly the hot keys that would skew the join — the df cap is the
    * standard remedy on both counts (suffix-array dedup pipelines apply the
    * same frequency cut before emitting spans). */
  val SubstrMaxDf = 10

  /** Exact substring duplication: pairs of documents sharing at least one
    * common [[SubstrGramLen]]-token gram, with the count of shared grams.
    * The distributed reframing of suffix-array substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): a suffix
    * array is single-node, but overlapping fixed-length gram hashes get the
    * same ≥L-token matches as an equi-join — only 8-byte hashes shuffle,
    * never text, and the join is O(matches), not O(n²). Docs shorter than
    * the gram length fall back to one whole-text gram (same clipped-slice
    * rule in the oracle). */
  def substringGramPairs(s: SparkSession, dir: String,
      gramLen: Int = SubstrGramLen, maxDf: Int = SubstrMaxDf): DataFrame = {
    val gramsExpr =
      s"""array_distinct(transform(
         |  sequence(1, greatest(size(tokens) - ${gramLen - 1}, 1)),
         |  i -> ${SharedHash.spark48(s"array_join(slice(tokens, i, $gramLen), ' ')")}))"""
        .stripMargin.replaceAll("\n", " ")
    // (doc_id, hash) pairs only — 16 bytes/row however long the gram is.
    // Cached + forced: the df aggregate and the join both consume it, and
    // the tokenize+hash explode is the dominant cost.
    val grams = Tables.documents(s, dir)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(gramsExpr)).as("g"))
      .cache()
    grams.count()
    // df cap: per-doc-distinct grams mean count(*) per g IS doc frequency
    val rare = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("g"))
    // the capped gram set feeds BOTH sides of the self-join — force it too,
    // or the grams⋈rare join runs once per side
    val gf = grams.join(rare, "g").cache()
    gf.count()
    val pairs = gf.toDF("g", "doc_a").join(gf.toDF("g", "doc_b"), "g")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_a"), col("doc_b"))
    Caching.materializeAndRelease(pairs, grams, gf)
  }

  // --- SimHash -------------------------------------------------------------

  /** 32-bit SimHash signature expression over a `tokens` column (token
    * multiset, ±1 per bit of the 48-bit base hash, sign-aggregated).
    * Generated as 32 concrete terms — stays fully inside codegen. */
  val simhashExpr: String = (0 until SimHashBits).map { b =>
    s"""(CASE WHEN aggregate(hs, 0, (acc, h) -> acc +
       | (CASE WHEN (shiftright(h, $b) & 1) = 1 THEN 1 ELSE -1 END)) >= 0
       | THEN shiftleft(cast(1 AS BIGINT), $b) ELSE cast(0 AS BIGINT) END)"""
      .stripMargin.replaceAll("\n", " ")
  }.mkString("(", " + ", ")")

  /** 64-bit SimHash signature expression: bits 0–47 sign-aggregate the
    * first 48-bit base hash (`hs`, same terms as [[simhashExpr]] — so the
    * low 32 bits coincide with the 32-bit signature), bits 48–63 the
    * second base hash (`hs2`, [[graft.functions.SharedHash.spark48b]]).
    * The scale variant the 32-bit scaladoc promises: 4×16-bit bands give
    * 65 536 buckets per band, so bucket collision counts keep shrinking as
    * the corpus grows past what 256-bucket bands can spread. */
  val simhash64Expr: String = (0 until SimHashBits64).map { b =>
    val (src, bit) = if (b < 48) ("hs", b) else ("hs2", b - 48)
    s"""(CASE WHEN aggregate($src, 0, (acc, h) -> acc +
       | (CASE WHEN (shiftright(h, $bit) & 1) = 1 THEN 1 ELSE -1 END)) >= 0
       | THEN shiftleft(cast(1 AS BIGINT), $b) ELSE cast(0 AS BIGINT) END)"""
      .stripMargin.replaceAll("\n", " ")
  }.mkString("(", " + ", ")")

  /** SQL formulation of the 32-bit signature — the oracle's structural
    * twin; Round4Spec pins the native expression against it. */
  private[graft] def simhashSignaturesSql(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("hs", expr(s"transform(tokens, t -> ${SharedHash.spark48("t")})"))
      .select(col("doc_id"), expr(simhashExpr).as("simhash"))

  private def simhashSignaturesRaw(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SimHash64.register(s)
    Tables.documents(s, dir)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"), expr("simhash32(tokens)").as("simhash"))
  }

  def simhashSignatures(s: SparkSession, dir: String): DataFrame =
    simhashSignaturesRaw(s, dir).orderBy(col("doc_id"))

  /** The SQL formulation of the 64-bit signature — the DuckDB oracle's
    * structural twin and the reference [[simhashSignatures64Raw]]'s native
    * expression is spec-checked against (Round4Spec, bit-for-bit). Not the
    * production path: 64 higher-order `aggregate` lambdas never enter
    * codegen, so the native [[graft.functions.SimHash64]] is ~4× faster. */
  private[graft] def simhashSignatures64Sql(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("tokens", split(col("text"), " "))
      // one md5 per token feeds BOTH 48-bit halves (the digest dominates
      // the signature cost; spark48/spark48b only differ in the substring)
      .withColumn("m", expr("transform(tokens, t -> md5(t))"))
      .withColumn("hs", expr(
        "transform(m, x -> cast(conv(substring(x, 1, 12), 16, 10) as bigint))"))
      .withColumn("hs2", expr(
        "transform(m, x -> cast(conv(substring(x, 13, 12), 16, 10) as bigint))"))
      .select(col("doc_id"), expr(simhash64Expr).as("simhash"))

  private def simhashSignatures64Raw(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SimHash64.register(s)
    Tables.documents(s, dir)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"), expr("simhash64(tokens)").as("simhash"))
  }

  /** 64-bit signatures, presentation-sorted (spec + debugging surface). */
  def simhashSignatures64(s: SparkSession, dir: String): DataFrame =
    simhashSignatures64Raw(s, dir).orderBy(col("doc_id"))

  val SimHashBands = 4
  val SimHashBandBits: Int = SimHashBits / SimHashBands
  val SimHashBandBits64: Int = SimHashBits64 / SimHashBands

  /** Shared banded-LSH hamming-pair pipeline over a (doc_id, simhash)
    * frame: split the signature into [[SimHashBands]] disjoint band keys,
    * bucket self-join on (band, key), verify candidates by exact hamming.
    * The arithmetic `>>` on a negative 64-bit signature is harmless — the
    * band mask strips the sign extension. */
  private def bandedHammingPairs(sigRaw: DataFrame, bandBits: Int): DataFrame = {
    val sig = sigRaw.cache()
    sig.count() // force before the band self-join's two consumers
    val bandStructs = (0 until SimHashBands).map { j =>
      struct(lit(j).as("band"),
        expr(s"(simhash >> ${j * bandBits}) & ${(1L << bandBits) - 1}")
          .as("key"))
    }
    val bands = sig
      .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band").as("band"), col("b.key").as("key"))
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sig_a"), col("y.simhash").as("sig_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= HammingThreshold)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
    Caching.materializeAndRelease(pairs, sig)
  }

  /** Banded SimHash near-dup pairs — the scale path for [[simhashPairs]]:
    * the 32-bit signature splits into 4 disjoint 8-bit band keys; only
    * pairs agreeing on at least one band become candidates (a bucket
    * self-join, candidates ∝ collisions), then candidates are verified by
    * exact hamming distance.
    *
    * Recall is EXACT here, not approximate: a pair within
    * HammingThreshold=2 differs in ≤2 of the 4 bands, so by pigeonhole it
    * shares an intact band and always collides. Output is therefore
    * identical to the full pairwise scan — which is what the DuckDB oracle
    * computes — while the Spark plan does O(collisions) work instead of
    * O(n²). [[simhashLshPairs64]] is the widened production variant. */
  def simhashLshPairs(s: SparkSession, dir: String): DataFrame =
    bandedHammingPairs(simhashSignaturesRaw(s, dir), SimHashBandBits)

  /** 64-bit banded SimHash near-dup pairs: identical pipeline to
    * [[simhashLshPairs]] with the widened signature and 4×16-bit bands.
    * The pigeonhole recall argument is width-independent (hamming ≤ 2
    * corrupts ≤ 2 of the 4 bands), so output still equals the full 64-bit
    * pairwise scan — the DuckDB oracle recomputes it via HUGEINT bit
    * packing. At 100 TB this is the band width you want: 2¹⁶ buckets per
    * band keeps collision lists short when 2⁸ would degenerate. */
  def simhashLshPairs64(s: SparkSession, dir: String): DataFrame =
    bandedHammingPairs(simhashSignatures64Raw(s, dir), SimHashBandBits64)

  /** Near-dup pairs by SimHash hamming distance over a bounded id range —
    * the exact pairwise baseline; [[simhashLshPairs]] is the banded scale
    * path (identical output, O(collisions) work). */
  def simhashPairs(s: SparkSession, dir: String, maxId: Long = 400): DataFrame = {
    val sig = simhashSignaturesRaw(s, dir).filter(col("doc_id") < maxId)
    sig.toDF("doc_a", "sig_a").join(sig.toDF("doc_b", "sig_b"),
        col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= HammingThreshold)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
