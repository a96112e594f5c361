package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline operators over a documents table
  * (id, text). All built from codegen'd `functions._` expressions — no
  * Scala UDFs in the hot paths — so plans stay inside whole-stage
  * codegen and push down to the scan.
  *
  * Tokenization here uses the `simple` analyzer semantics
  * (`[a-z0-9]+` runs of lower(text)) which is expressible identically
  * in DuckDB for the correctness oracle; the Indri-rule tokenizer in
  * graft.analysis is the engine-side flagship.
  */
object TextPipeline {

  def tokens(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("tokens", expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)"))

  // ------------------------------------------------------------------
  // deduplication
  // ------------------------------------------------------------------

  /** Exact dedup: content-hash groupBy; every doc mapped to the keeper
    * (minimum id) of its hash group. At scale this is one shuffle on a
    * 32-byte key; the common case (unique docs) stays map-side partial.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("h"))
    df.select(col(idCol), md5(col(textCol)).as("h"))
      .withColumn("keeper", min(col(idCol)).over(w))
      .withColumn("is_dup", (col(idCol) =!= col("keeper")).cast(IntegerType))
      .select(col(idCol), col("keeper"), col("is_dup"))
  }

  /** Word k-gram shingles (default 3) of the simple tokens. */
  /** `(idCol, __toks)` with the token array MATERIALIZED as its own
    * projection. Inlining the regexp into a downstream higher-order
    * lambda makes Catalyst re-evaluate regexp_extract_all on every
    * element access (element_at(toks, i) inside a transform lambda) —
    * measured 16.2s → 0.5s for the sf0.1 8-gram explode. CollapseProject
    * keeps a multi-referenced non-cheap alias in its own project, so a
    * separate select is the durable fix.
    */
  private def withTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)").as("__toks"))

  def shinglesCol(toks: Column, k: Int = 3): Column =
    // DuckDB equivalent: list_transform(range(1, len(toks)-k+2), i ->
    //   toks[i] || ' ' || ... ). Spark arrays are 0-based; build via
    // transform over a sequence of start offsets. Guard: sequence()
    // DESCENDS when start > stop, so short docs need the empty branch.
    when(size(toks) >= k,
      transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast(ArrayType(StringType)))

  /** MinHash signatures: hash_j(shingle) = md5(j || ':' || shingle),
    * minimum taken LEXICOGRAPHICALLY over the fixed-width hex strings —
    * equivalent to numeric min of the 128-bit value and expressible
    * identically in any engine with md5. Returns one column per hash.
    */
  def minhash(df: DataFrame, idCol: String, textCol: String,
              numHashes: Int = 128, shingleK: Int = 3): DataFrame = {
    val toks = expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")
    // one tight pass per doc with a reused MD5 instance: the expression
    // form (transform + md5 + array_min per hash) allocates 4 hex-string
    // arrays per doc and re-hashes per hash column — measured ~8× slower
    // on the LSH candidate path. Hex-min comparison semantics identical.
    val k = shingleK
    val nh = numHashes
    val mhUdf = udf { (ts: Seq[String]) =>
      val mins = new Array[String](nh)
      if (ts != null && ts.length >= k) {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hexChars = "0123456789abcdef".toCharArray
        var i = 0
        while (i <= ts.length - k) {
          val sb = new java.lang.StringBuilder
          var c = 0
          while (c < k) { if (c > 0) sb.append(' '); sb.append(ts(i + c)); c += 1 }
          val shingle = sb.toString
          var j = 0
          while (j < nh) {
            md.reset()
            val d = md.digest((j.toString + ":" + shingle).getBytes("UTF-8"))
            val hex = new Array[Char](32)
            var b = 0
            while (b < 16) {
              hex(b * 2) = hexChars((d(b) >> 4) & 0xf)
              hex(b * 2 + 1) = hexChars(d(b) & 0xf)
              b += 1
            }
            val h = new String(hex)
            if (mins(j) == null || h < mins(j)) mins(j) = h
            j += 1
          }
          i += 1
        }
      }
      mins.toSeq
    }
    val sigs = df.select(col(idCol), mhUdf(toks).as("mh"))
    val cols = (0 until nh).map(j => element_at(col("mh"), j + 1).as(s"mh$j"))
    sigs.select((col(idCol) +: cols): _*)
  }

  /** LSH banding over minhash signatures: docs sharing a band bucket are
    * near-dup candidates. bands × rowsPerBand = numHashes. Returns
    * candidate pairs (a, b), a < b. The band join is the scale path: the
    * self-join is on band-bucket keys, never all-pairs.
    */
  /** Production defaults: 128 hashes × 16 bands (8 rows/band) — the
    * standard pretraining-dedup operating point (bands = recall knob,
    * rows/band = precision knob); the driver queries pass small explicit
    * values so the DuckDB oracle stays cheap.
    */
  /** (id, band, bucket) band projections of a signature table — shared
    * by the pair join and the streaming near-dup path.
    */
  def minhashBands(sigs: DataFrame, idCol: String,
                   numHashes: Int, bands: Int): DataFrame = {
    // rowsPerBand = 0 would band every doc into one '' bucket (the
    // all-pairs collapse the null filter below exists to prevent), and a
    // non-divisible split would silently ignore trailing hash columns,
    // quietly lowering recall below the configured operating point
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rowsPerBand = numHashes / bands
    // docs shorter than the shingle width have an all-null signature —
    // they carry no content evidence and must not band at all (concat_ws
    // would collapse every such doc into one shared '' bucket, pairing
    // unrelated short docs; a SQL equi-join on the NULL bucket pairs
    // nothing, so the filter is also what keeps both engines agreeing)
    val defined = sigs.where(col("mh0").isNotNull)
    (0 until bands).map { bnd =>
      val bandCols = (0 until rowsPerBand).map(r => col(s"mh${bnd * rowsPerBand + r}"))
      defined.select(col(idCol).as("id"), lit(bnd).as("band"),
        concat_ws("|", bandCols: _*).as("bucket"))
    }.reduce(_ union _)
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 128, bands: Int = 16, shingleK: Int = 3): DataFrame = {
    // persist: the signature table feeds both band projections and both
    // sides of the self-join — without it the md5-per-shingle minhash
    // column tree is evaluated 4× (measured 41s → ~3s at sf0.1)
    val sigs = minhash(df, idCol, textCol, numHashes, shingleK).persist()
    val banded = minhashBands(sigs, idCol, numHashes, bands)
    val a = banded.select(col("band"), col("bucket"), col("id").as("a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Connected components over an undirected pair list by min-label
    * propagation: comp(id) ← min(comp(id), min over neighbors' comp)
    * until fixpoint. Near-dup graphs have tiny, diameter-bounded
    * components, so rounds ≈ longest dup chain (early exit when a round
    * changes nothing). Each round is one shuffle join on the edge key;
    * localCheckpoint truncates lineage like the PageRank loop. At web
    * scale the identical propagation body runs over a large-star/
    * small-star reshaped edge list (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) for O(log n) rounds —
    * the per-round plan shape (join + min-agg) is already that one.
    */
  def connectedComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
                          maxIter: Int = 25): DataFrame = {
    val edges = pairs.select(col("a").cast(LongType).as("x"), col("b").cast(LongType).as("y"))
      .union(pairs.select(col("b").cast(LongType).as("x"), col("a").cast(LongType).as("y")))
      .persist()
    var labels = nodes.select(col(idCol).cast(LongType).as("id"),
      col(idCol).cast(LongType).as("comp")).localCheckpoint()
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      val viaNbr = edges.join(labels.withColumnRenamed("id", "y"), "y")
        .select(col("x").as("id"), col("comp"))
      val next = labels.union(viaNbr)
        .groupBy("id").agg(min("comp").as("comp"))
      val stepped = labels.withColumnRenamed("comp", "prev")
        .join(next, "id")
        .select(col("id"), col("comp"),
          (col("comp") =!= col("prev")).cast(LongType).as("chg"))
        .localCheckpoint()
      changed = stepped.agg(coalesce(sum("chg"), lit(0L))).head().getLong(0)
      labels = stepped.select("id", "comp")
      iter += 1
    }
    edges.unpersist()
    // never return silently-wrong components: a dup chain longer than
    // maxIter hops would leave labels mid-propagation. Real corpora hit
    // this on long boilerplate chains; fail loudly so the caller raises
    // maxIter (or switches to large-star/small-star reshaping).
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter")
    labels
  }

  /** Connected components by alternating large-star/small-star edge
    * reshaping (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — O(log n) rounds on ANY component diameter, the
    * web-scale path (min-label propagation needs diameter rounds):
    *
    *  - large-star: every node u links its strictly-LARGER neighbors to
    *    the minimum of its closed neighborhood m(u);
    *  - small-star: every node links its smaller neighbors (and itself)
    *    to m(u).
    *
    * Each half-round is one groupBy(u).min + one join back on u — the
    * same shuffle shape per round as the propagation loop, but the
    * round COUNT is logarithmic. At fixpoint the edge list is a star
    * forest (componentMin, node); convergence is detected by an
    * order-insensitive (count, xor-of-hashes) edge-set signature.
    * Returns (id, comp) with comp = component minimum; isolated nodes
    * map to themselves.
    */
  def connectedComponentsStar(nodes: DataFrame, idCol: String, pairs: DataFrame,
                              maxIter: Int = 50): DataFrame = {
    // per round: ONE small-star join + explode(array(v, u)) emits both
    // the smaller neighbors and the node itself; the convergence
    // (count, xor-of-hashes) signature rides the small-star checkpoint's
    // single pass via Dataset.observe, not a separate collect job. Both
    // star sets are eagerly localCheckpointed once per round — a lazily
    // persisted large-star set measured SLOWER at 2M nodes (its two
    // same-job consumers race to populate the cache and can compute it
    // twice; bench/r6_cc_lab.json)
    val sigCnt = count(lit(1)).as("cnt")
    val sigXor = coalesce(expr("bit_xor(xxhash64(lo, hi))"), lit(0L)).as("sig")
    // the initial signature pass is over the just-checkpointed input —
    // a block scan, not a recompute; fold-into-observe buys nothing here
    var edges = pairs
      .select(col("a").cast(LongType).as("x"), col("b").cast(LongType).as("y"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("lo"), greatest(col("x"), col("y")).as("hi"))
      .distinct().localCheckpoint()
    val sig0 = edges.agg(sigCnt, sigXor).head()
    var sig = (sig0.getLong(0), sig0.getLong(1))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: adjacency in BOTH directions; m(u) = min(Γ(u) ∪ {u});
      // emit (m(u), v) for neighbors v > u — m ≤ u < v keeps it canonical
      val both = edges.select(col("lo").as("u"), col("hi").as("v"))
        .union(edges.select(col("hi").as("u"), col("lo").as("v")))
      val mins = both.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = both.join(mins, "u")
        .where(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .distinct().localCheckpoint()
      // small-star: orient to the larger endpoint; m(u) = min neighbor;
      // emit (m, v) for the smaller neighbors and (m, u)
      val sBoth = ls.select(col("hi").as("u"), col("lo").as("v"))
      val sMins = sBoth.groupBy("u").agg(min(col("v")).as("m"))
      val obs = org.apache.spark.sql.Observation()
      edges = sBoth.join(sMins, "u")
        .select(col("m").as("lo"), explode(array(col("v"), col("u"))).as("hi"))
        .where(col("lo") =!= col("hi"))
        .distinct()
        .observe(obs, sigCnt, sigXor).localCheckpoint()
      val m = obs.get
      val newSig = (m("cnt").asInstanceOf[Long], m("sig").asInstanceOf[Long])
      converged = newSig == sig
      sig = newSig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds")
    nodes.select(col(idCol).cast(LongType).as("id"))
      .join(edges.select(col("hi").as("id"), col("lo").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Near-dup clusters: LSH candidate pairs → transitive closure →
    * canonical keeper (minimum id per component) — the pretraining-
    * pipeline step after pair generation: keep one representative per
    * cluster, drop the rest. Closure runs on the large-star/small-star
    * path (logarithmic rounds); the propagation variant stays available
    * for diameter-bounded graphs.
    *
    * Docs below the shingle width are INVISIBLE to this operator (no
    * signature → no candidate pairs): they come back keeper=self even
    * when byte-identical to each other — pair with [[exactDedup]] to
    * cover short documents.
    */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
                    numHashes: Int = 128, bands: Int = 16, shingleK: Int = 3): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, numHashes, bands, shingleK)
    connectedComponentsStar(df, idCol, pairs)
      .withColumn("is_dup", (col("id") =!= col("comp")).cast(IntegerType))
      .select(col("id").as(idCol), col("comp").as("keeper"), col("is_dup"))
  }

  /** Repeated-span detection — the detection half of exact-substring
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", 2022): token k-grams occurring more than once in
    * the corpus mark the spans a substring-dedup pass would cut.
    * Returns per doc the k-gram position count, how many of those sit
    * in a corpus-repeated k-gram, and the repeat fraction. Shuffle key
    * = a 64-bit gram hash (8 bytes instead of the ~50-byte raw token
    * string — collision odds over a 64-bit space are negligible for
    * counting), computed WITHOUT materializing gram strings: tokens
    * hash once, each gram hashes its k token hashes (variadic
    * xxhash64) — no per-gram string allocation, everything codegen
    * arithmetic (measured 45s → 0.2s at sf0.1 vs the original
    * string-gram double-computation plan; bit-identical counts,
    * cross-checked against the string path). The per-(doc, gram)
    * pre-aggregation keeps map-side combine on both rollups, so a
    * boilerplate-hot gram never concentrates raw rows on one reducer.
    * Documents shorter than k drop out.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8): DataFrame = {
    val gramHashes =
      when(size(col("__hs")) >= k,
        transform(sequence(lit(0), size(col("__hs")) - k),
          i => xxhash64((0 until k).map(j => element_at(col("__hs"), i + j + 1)): _*)))
        .otherwise(array().cast("array<bigint>"))
    val perDoc = withTokens(df, idCol, textCol)
      .select(col(idCol), transform(col("__toks"), t => xxhash64(t)).as("__hs"))
      .select(col(idCol), explode(gramHashes).as("gh"))
      .groupBy(idCol, "gh").agg(count(lit(1)).as("m"))
      .persist()
    val totals = perDoc.groupBy("gh").agg(sum("m").as("c"))
    val out = perDoc.join(totals, "gh")
      .groupBy(idCol)
      .agg(sum(col("m")).as("n_grams"),
        sum(when(col("c") > 1, col("m")).otherwise(0L)).as("n_repeated"))
      .select(col(idCol), col("n_grams"), col("n_repeated"),
        round(col("n_repeated").cast(DoubleType) / col("n_grams"), 6)
          .as("repeat_frac"))
      .localCheckpoint() // eager: lets us release the gram cache now
    perDoc.unpersist()
    out
  }

  /** Exact-substring dedup REMOVAL — the action half of Lee et al. 2022
    * (arXiv:2107.06499; detection half = [[repeatedSpans]]): every
    * occurrence of a corpus-repeated token k-gram is cut EXCEPT the
    * globally first occurrence (min (doc, position) — keep-one-copy),
    * and the surviving tokens rejoin with single spaces.
    *
    * Shape at scale: grams hash like [[repeatedSpans]] (token hashes →
    * variadic xxhash64, no gram strings), ONE shuffle on the gram hash
    * finds counts + survivors with map-side combine, cut occurrences
    * come back to their documents via one join keyed on the doc id, and
    * covered-position expansion is pure array arithmetic per document.
    * Returns (idCol, n_tokens, n_kept, text_dedup).
    */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 8): DataFrame =
    // hash-set survivor selection — the spans-lab measured winner
    // (bench/r6_spans_lab.json); semantics pinned equal to the filter
    // form by RepeatedSpansSpec and the lab's row-identity guard
    removeRepeatedSpans(df, idCol, textCol, k, exceptKept = true)

  /** [[removeRepeatedSpans]] with the kept-index selection strategy
    * exposed for the spans-lab in BenchExtra — results are
    * strategy-invariant.
    *
    * `exceptKept = false` is the round-5 shape: the surviving token
    * indexes come from `filter(indexes, i => !array_contains(__cov, i))`
    * — an O(|covered|) LINEAR SCAN per token, O(T·C) per document,
    * quadratic-ish for boilerplate-heavy documents where most positions
    * sit under a cut span. `exceptKept = true` computes the same set as
    * `array_except(indexes, __cov)` — one hash set over the covered
    * positions, O(T+C) per document. Order preservation is guaranteed
    * (array_except keeps the first array's order, and the strictly
    * increasing index sequence has no duplicates for its dedup to
    * drop), so the emitted token stream is byte-identical.
    */
  private[graft] def removeRepeatedSpans(df: DataFrame, idCol: String,
                                         textCol: String, k: Int,
                                         exceptKept: Boolean): DataFrame = {
    val toksDf = withTokens(df, idCol, textCol)
      .select(col(idCol), col("__toks"),
        transform(col("__toks"), t => xxhash64(t)).as("__hs"))
      .persist()
    val gramOcc =
      when(size(col("__hs")) >= k,
        transform(sequence(lit(0), size(col("__hs")) - k),
          i => struct(i.as("pos"),
            xxhash64((0 until k).map(j => element_at(col("__hs"), i + j + 1)): _*).as("gh"))))
        .otherwise(array().cast("array<struct<pos:int,gh:bigint>>"))
    val occ = toksDf
      .select(col(idCol), explode(gramOcc).as("o"))
      .select(col(idCol), col("o.pos").as("pos"), col("o.gh").as("gh"))
    // one gram-keyed shuffle: occurrence count + the surviving occurrence
    val byGram = occ
      .groupBy("gh")
      .agg(count(lit(1)).as("c"),
        min(struct(col(idCol), col("pos"))).as("surv"))
      .where(col("c") > 1)
    val cuts = occ.join(byGram, "gh")
      .where(!(col(idCol) === col(s"surv.$idCol") && col("pos") === col("surv.pos")))
      .groupBy(idCol)
      .agg(collect_set(col("pos")).as("cutStarts"))
    val out = toksDf
      .join(cuts, Seq(idCol), "left")
      .withColumn("__cov", array_distinct(flatten(transform(
        coalesce(col("cutStarts"), array().cast("array<int>")),
        s => sequence(s, s + k - 1)))))
      .withColumn("__idx",
        // sequence() DESCENDS when start > stop — guard empty docs
        when(size(col("__toks")) > 0,
          sequence(lit(0), size(col("__toks")) - 1))
          .otherwise(array().cast("array<int>")))
      .withColumn("__kept",
        if (exceptKept) array_except(col("__idx"), col("__cov"))
        else filter(col("__idx"), i => !array_contains(col("__cov"), i)))
      .select(col(idCol),
        size(col("__toks")).cast(LongType).as("n_tokens"),
        size(col("__kept")).cast(LongType).as("n_kept"),
        concat_ws(" ", transform(col("__kept"),
          i => element_at(col("__toks"), i + 1))).as("text_dedup"))
      .localCheckpoint()
    toksDf.unpersist()
    out
  }

  /** SimHash over token md5 bits: bit_j(sig) = majority vote of
    * bit_j(md5(token)) across tokens (+1/−1). `bits` ≤ 64 (first
    * bits/4 hex chars of the md5). Pure column expressions.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    require(bits % 4 == 0 && bits <= 64)
    val hexChars = bits / 4
    val toks = expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")
    val exploded = df.select(col(idCol), explode(toks).as("tok"))
      .withColumn("h", substring(md5(col("tok")), 1, hexChars))
    // per-bit vote: for hex char p (1-based), bit b (0..3 low-to-high):
    // value = index of char in hex alphabet; vote = 2*((value>>b)&1)-1
    val votes = (0 until bits).map { bit =>
      val p = bit / 4 + 1
      val b = bit % 4
      val v = (instr(lit("0123456789abcdef"), substring(col("h"), p, 1)) - 1).cast(IntegerType)
      sum(shiftright(v, b).bitwiseAND(1) * 2 - 1).as(s"v$bit")
    }
    val agg = exploded.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    // assemble signature: bit set where vote > 0
    val sig = (0 until bits).map { bit =>
      when(col(s"v$bit") > 0, lit(1L << bit)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col(idCol), sig.as("simhash"))
  }

  /** n-gram Jaccard similarity for candidate pairs: |A∩B| / |A∪B| over
    * distinct shingle sets. `candidates` = (a, b) pairs (from LSH or a
    * bounded id range) — never all-pairs at scale.
    */
  def ngramJaccard(df: DataFrame, candidates: DataFrame, idCol: String,
                   textCol: String, shingleK: Int = 3): DataFrame = {
    val sets = withTokens(df, idCol, textCol).select(col(idCol).as("id"),
      array_distinct(shinglesCol(col("__toks"), shingleK)).as("sh"))
    candidates
      .join(sets.select(col("id").as("a"), col("sh").as("sha")), "a")
      .join(sets.select(col("id").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("uni", size(array_union(col("sha"), col("shb"))))
      .select(col("a"), col("b"),
        round(col("inter").cast(DoubleType) / col("uni"), 6).as("jaccard"))
  }

  // ------------------------------------------------------------------
  // text analysis
  // ------------------------------------------------------------------

  /** tiny per-language marker profiles for heuristic language-ID */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den"),
    "fr" -> Seq("le", "la", "les", "des", "et", "est", "dans", "pour")
  )

  /** Heuristic language-ID: argmax of marker-token hits; ties and
    * zero-hit docs → "und". Deterministic tiebreak: first language in
    * `LangMarkers` order wins among equals.
    */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")
    val base = df.select(col(idCol), toks.as("toks"))
    val scored = LangMarkers.foldLeft(base) { case (d, (lang, markers)) =>
      d.withColumn(s"n_$lang",
        size(filter(col("toks"), t => t.isInCollection(markers))))
    }
    val maxHits = greatest(LangMarkers.map { case (l, _) => col(s"n_$l") }: _*)
    val pred = LangMarkers.reverse.foldLeft(lit("und")) { case (acc, (l, _)) =>
      when(col(s"n_$l") === maxHits && maxHits > 0, lit(l)).otherwise(acc)
    }
    scored.select(col(idCol), pred.as("lang_pred"),
      maxHits.as("marker_hits"))
  }

  /** Quality signals: char length, token count, mean token length,
    * punctuation ratio, digit ratio, stopword ratio — the standard
    * pretraining-filter features, all as one scan.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stop = Seq("the", "and", "of", "to", "a", "in", "is", "it", "for", "that")
    val toks = expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")
    df.withColumn("toks", toks)
      .select(
        col(idCol),
        length(col(textCol)).as("n_chars"),
        size(col("toks")).as("n_tokens"),
        round(when(size(col("toks")) > 0,
          aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x)).cast(DoubleType) / size(col("toks")))
          .otherwise(lit(0.0)), 6).as("mean_tok_len"),
        round((length(col(textCol)) - length(regexp_replace(col(textCol), "[^a-zA-Z0-9 ]", ""))).cast(DoubleType) /
          greatest(length(col(textCol)), lit(1)), 6).as("punct_ratio"),
        round(size(filter(col("toks"), t => t.isInCollection(stop))).cast(DoubleType) /
          greatest(size(col("toks")), lit(1)), 6).as("stopword_ratio"))
  }

  /** Token counting: simple-regex tokens, whitespace tokens, and a
    * BPE-ish subword estimate (ceil(chars/4) per token — the common
    * ~4-chars-per-token heuristic, deterministic and oracle-checkable).
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = split(trim(col(textCol)), "\\s+")
    df.select(col(idCol), col(textCol),
        expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)").as("__toks"))
      .select(
        col(idCol),
        size(col("__toks")).as("n_regex_tokens"),
        when(length(trim(col(textCol))) === 0, lit(0)).otherwise(size(ws)).as("n_ws_tokens"),
        aggregate(col("__toks"), lit(0L),
          (acc, t) => acc + ceil(length(t).cast(DoubleType) / 4.0).cast(LongType))
          .as("n_bpe_est"))
  }

  /** Benchmark decontamination: flag documents sharing any word n-gram
    * with a probe (benchmark/eval) set — the standard pre-training
    * contamination check. The probe n-gram set is small by construction
    * (benchmarks, not corpora), so the join broadcasts: one corpus scan,
    * no shuffle of document data at any scale.
    */
  def ngramContamination(docs: DataFrame, idCol: String, textCol: String,
                         probes: DataFrame, probeTextCol: String,
                         n: Int = 8): DataFrame = {
    val probeGrams = probes
      .select(expr(s"regexp_extract_all(lower($probeTextCol), '[a-z0-9]+', 0)").as("__toks"))
      .select(explode(array_distinct(shinglesCol(col("__toks"), n))).as("gram")).distinct()
    val docGrams = withTokens(docs, idCol, textCol)
      .select(col(idCol), explode(array_distinct(shinglesCol(col("__toks"), n))).as("gram"))
    val hits = docGrams.join(broadcast(probeGrams), Seq("gram"))
      .groupBy(idCol).agg(count(lit(1)).as("hit_grams"))
    docs.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("hit_grams"), lit(0L)).as("hit_grams"),
        (coalesce(col("hit_grams"), lit(0L)) > 0).cast(LongType).as("contaminated"))
  }

  /** [[ngramContamination]] with a Bloom-filter pre-pass — the shape for
    * probe sets too large to broadcast raw at 100 TB (many benchmarks ×
    * many grams): a fixed-size Bloom filter over the probe grams
    * broadcasts instead (≈ 1.44·n·log2(1/fpp) bits regardless of gram
    * length), candidate document grams pre-filter through it, and only
    * the survivors (true hits + ~fpp false positives) reach the exact
    * probe join. Results are IDENTICAL to the exact operator — the
    * Bloom filter only bounds the verify join's left side.
    */
  def ngramContaminationBloom(docs: DataFrame, idCol: String, textCol: String,
                              probes: DataFrame, probeTextCol: String,
                              n: Int = 8, fpp: Double = 0.01): DataFrame = {
    val probeGrams = probes
      .select(expr(s"regexp_extract_all(lower($probeTextCol), '[a-z0-9]+', 0)").as("__toks"))
      .select(explode(array_distinct(shinglesCol(col("__toks"), n))).as("gram")).distinct()
    val nProbe = math.max(probeGrams.count(), 1L)
    // the filter probes 64-bit xxhash64 values, not the gram strings:
    // the per-row hash runs as a codegen'd expression and the Bloom
    // probe is a cheap bit test over a long — the old string-keyed UDF
    // re-encoded and re-hashed every ~100-byte gram row-at-a-time, which
    // dominated the pass (guide §4.1: keep the hot path in codegen).
    // False-positive semantics are unchanged (any hash collision is just
    // another Bloom false positive) and every survivor still passes the
    // exact STRING verify join below, so the output stays identical to
    // ngramContamination.
    val bf = probeGrams.select(xxhash64(col("gram")).as("gh"))
      .stat.bloomFilter("gh", nProbe, fpp)
    val bcBf = docs.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((h: Long) => bcBf.value.mightContainLong(h))
    val docGrams = withTokens(docs, idCol, textCol)
      .select(col(idCol), explode(array_distinct(shinglesCol(col("__toks"), n))).as("gram"))
      .where(mightContain(xxhash64(col("gram"))))
    // exact verify over the (tiny) surviving gram set — false positives
    // from the filter die here, so the output matches ngramContamination.
    // The probe side broadcasts (small by construction, same as the exact
    // operator) instead of shuffling the survivors into a sort-merge join;
    // recomputing the probe grams twice (filter build + verify join) is
    // cheaper than pinning them in storage for the query's lifetime.
    val hits = docGrams.join(broadcast(probeGrams), Seq("gram"))
      .groupBy(idCol).agg(count(lit(1)).as("hit_grams"))
    docs.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("hit_grams"), lit(0L)).as("hit_grams"),
        (coalesce(col("hit_grams"), lit(0L)) > 0).cast(LongType).as("contaminated"))
  }

  /** Repetition signals (the Gopher-style repetition filters): fraction
    * of duplicate non-empty lines, and the share of all word bigrams
    * taken by the single most frequent one. One scan + a per-doc bigram
    * aggregation (shuffle key = (doc, gram), never cross-doc).
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = filter(split(col(textCol), "\n"), l => length(l) > 0)
    val lineStats = docs.select(col(idCol),
      size(lines).as("n_lines"),
      size(array_distinct(lines)).as("n_distinct_lines"))
    val bigrams = withTokens(docs, idCol, textCol)
      .select(col(idCol), explode(shinglesCol(col("__toks"), 2)).as("g"))
    val bg = bigrams.groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(max("c").as("top_c"), sum("c").as("tot"))
    lineStats.join(bg, Seq(idCol), "left")
      .select(col(idCol),
        round(when(col("n_lines") > 0,
          lit(1.0) - col("n_distinct_lines").cast(DoubleType) / col("n_lines"))
          .otherwise(0.0), 6).as("dup_line_frac"),
        round(when(col("tot") > 0, col("top_c").cast(DoubleType) / col("tot"))
          .otherwise(0.0), 6).as("top_bigram_frac"))
  }

  /** Code-corpus quality signals — the filters a source-code training
    * pipeline runs per file: longest/count of non-empty lines, fraction
    * of alphanumeric characters (low → minified/binary-ish), fraction
    * of comment lines (`//` or `#` after trim), and an SPDX license tag
    * flag. One scan, pure column expressions.
    */
  def codeStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = filter(split(col(textCol), "\n"), l => length(l) > 0)
    df.select(
      col(idCol),
      coalesce(array_max(transform(lines, l => length(l))), lit(0))
        .cast(LongType).as("max_line_len"),
      size(lines).cast(LongType).as("n_lines"),
      round(when(length(col(textCol)) > 0,
        length(regexp_replace(col(textCol), "[^a-zA-Z0-9]", "")).cast(DoubleType) /
          length(col(textCol))).otherwise(0.0), 6).as("alnum_frac"),
      round(when(size(lines) > 0,
        size(filter(lines, l =>
          trim(l).startsWith("//") || trim(l).startsWith("#"))).cast(DoubleType) /
          size(lines)).otherwise(0.0), 6).as("comment_line_frac"),
      col(textCol).contains("SPDX-License-Identifier")
        .cast(LongType).as("has_spdx"))
  }

  /** Deterministic train/validation/test assignment: bucket 0-99 from
    * the first two hex chars of md5(id), thresholds at trainPct /
    * trainPct+valPct. No sampling randomness — the split is a pure
    * function of the id, reproducible across runs, engines, and
    * re-partitionings (the property a training pipeline needs so a doc
    * never migrates between splits between runs). 256 hash values onto
    * 100 buckets is mildly non-uniform (realized train share ≈84% at
    * the 80 threshold); widen to 4 hex chars if exact proportions
    * matter more than oracle simplicity.
    */
  def hashSplit(df: DataFrame, idCol: String,
                trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct <= 100)
    val hx = md5(col(idCol).cast(StringType))
    def hexVal(p: Int): Column =
      (instr(lit("0123456789abcdef"), substring(hx, p, 1)) - 1).cast(IntegerType)
    val bucket = (hexVal(1) * 16 + hexVal(2)) % 100
    df.select(col(idCol), bucket.as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "validation")
        .otherwise("test").as("split"))
  }

  /** Deterministic per-stratum sampling — training-mix construction
    * (up/down-weighting sources or languages): keep a row iff
    * u(id) < rate(stratum), with u = the first 8 md5 hex chars of the
    * id as a uniform in [0,1) (exact /2^32 division — bit-identical
    * across engines). Pure function of the id, so membership is
    * layout- and run-invariant like [[hashSplit]], and MONOTONE in the
    * rate: raising a stratum's rate only ADDS documents (nested
    * samples) — a mix can grow without resampling what's already
    * selected. Unknown strata take `defaultRate`.
    */
  def sampleStrata(df: DataFrame, idCol: String, strataCol: String,
                   rates: Map[String, Double],
                   defaultRate: Double = 0.0): DataFrame = {
    val hx = md5(col(idCol).cast(StringType))
    def hexVal(p: Int): Column =
      (instr(lit("0123456789abcdef"), substring(hx, p, 1)) - 1).cast(LongType)
    val value = (1 to 8).map(p => hexVal(p) * (1L << (4 * (8 - p))))
      .reduce(_ + _)
    val u = value.cast(DoubleType) / 4294967296.0 // 2^32: exact division
    val rateCol = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    // filter on the RAW u (exact double both engines); display rounded
    df.where(u < rateCol)
      .select(col(idCol), col(strataCol), round(u, 9).as("u"))
  }

  /** Unigram-LM quality score — the deterministic core of the
    * CCNet-style perplexity filter: mean per-token log10 probability of
    * a document's tokens under the CORPUS unigram distribution. Very
    * low scores flag gibberish/OOV-heavy documents, very high ones flag
    * boilerplate. Shuffle-minimal shape: token occurrences pre-aggregate
    * to per-(doc, tok) counts BEFORE anything crosses a shuffle (the
    * groupBy's map-side partial combine collapses every repeat of a hot
    * token inside its input partition), the corpus vocabulary derives
    * from those counts without re-scanning the text, and the vocab join
    * carries |doc × distinct-token| rows instead of every occurrence —
    * the mean tf is the shuffle-shrink factor. The per-doc mean is then
    * the count-weighted average, identical arithmetic. The count table
    * is vocabulary-sized (broadcastable for natural-language
    * vocabularies, shuffle-joined for web-scale code vocabularies —
    * Catalyst/AQE picks by size).
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")
    val perDoc = df.select(col(idCol), explode(toks).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("k"))
    val counts = perDoc.groupBy("tok").agg(sum(col("k")).as("c"))
    val total = counts.agg(sum(col("c")).cast(DoubleType).as("tt"))
    perDoc
      .join(counts, "tok")
      .crossJoin(broadcast(total))
      .groupBy(idCol)
      .agg(round(
        sum(col("k").cast(DoubleType) * log10(col("c").cast(DoubleType) / col("tt"))) /
          sum(col("k").cast(DoubleType)), 6).as("mean_log10p"),
        sum(col("k")).cast(LongType).as("n_tokens"))
  }

  /** PII redaction — the standard pretraining scrub: emails, IPv4
    * addresses and long standalone digit runs (phone-ish) are replaced
    * with typed placeholder tokens, with per-doc counts so filters can
    * threshold on PII density. Patterns deliberately stay in the
    * RE2-compatible subset (no lookaround) so the DuckDB oracle applies
    * the IDENTICAL regexes. One scan, pure column expressions.
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{7,15}\\b"

  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(src: Column, re: String): Column =
      size(regexp_extract_all(src, lit(re), lit(0))).cast(LongType)
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, EmailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, Ipv4Re, "<IP>")
    val t3 = regexp_replace(t2, PhoneRe, "<PHONE>")
    df.select(col(idCol),
      cnt(t0, EmailRe).as("n_emails"),
      cnt(t1, Ipv4Re).as("n_ipv4"),
      cnt(t2, PhoneRe).as("n_phones"),
      t3.as("redacted"))
  }

  /** Document fingerprints: full-content md5 over the normalized token
    * stream, plus a winnowing-style fingerprint = min shingle-hash per
    * window (here: global min + count of distinct shingle hashes, the
    * degenerate single-window form — deterministic and portable).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String, shingleK: Int = 3): DataFrame = {
    withTokens(df, idCol, textCol)
      .select(col(idCol), col("__toks"),
        shinglesCol(col("__toks"), shingleK).as("__sh"))
      .select(
        col(idCol),
        md5(concat_ws(" ", col("__toks"))).as("content_fp"),
        array_min(transform(col("__sh"), s => md5(s))).as("min_shingle_fp"),
        size(array_distinct(col("__sh"))).as("n_distinct_shingles"))
  }
}
