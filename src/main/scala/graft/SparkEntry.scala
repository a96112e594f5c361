package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{FieldAnnotators, IndexBuilder, IndexConfig}
import graft.pipeline.{HarvestLinks, Similarity, TextPipeline}
import graft.search.{Engine, QueryParser, ScoringRule}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB-runnable `oracleSql` for the driver's
  * correctness gate at sf=0.01.
  *
  * Oracle-parity tokenizer: `[a-z0-9]+` runs of lower(text) — identical
  * in Spark (`regexp_extract_all`) and DuckDB. The Indri-rule tokenizer
  * (graft.analysis.Tokenizer) is the engine flagship and is pinned by
  * the ScalaTest golden oracle instead (BASELINE.json north_star).
  *
  * Doubles are rounded to 6dp on BOTH sides and ordering happens on the
  * rounded value, so cross-engine libm ULP differences cannot flip ranks.
  */
object SparkEntry {

  // fixed probe terms present in the synthetic documents vocabulary
  private val BmTerms = Seq("data", "merge", "query")
  private val PhrasePair = ("batch", "batch")
  private val OdPair = ("hash", "scan")
  private val UwPair = ("join", "order")
  private val BandTerms = Seq("spark", "table", "join")
  private val SynPair = ("sort", "filter")

  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Embeddings with PLANTED exact duplicates: every 17th vector is
    * re-inserted under vec_id + 1000000 with an identical embedding.
    * Deterministic and reproducible in DuckDB SQL, so the LSH queries get
    * a real oracle: identical vectors share every hyperplane band bucket
    * (sign of every plane dot is equal), so LSH finds each planted pair
    * with probability 1, and the fixtures' max NATURAL pairwise cosine is
    * ≈0.60 (measured at sf0.01/sf0.1, dim 64), far below the 0.9
    * thresholds — the oracle set is exactly the planted pairs.
    */
  private val PlantOffset = 1000000L

  // built ANN indexes per sf dir (build-once / query-many, like the
  // inverted-index caches): repeated driver reps measure probe latency
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.IvfIndex]()
  private val lshIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.LshIndex]()

  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
    emb.union(emb.where(col("vec_id") % 17 === 0)
      .select((col("vec_id") + PlantOffset).as("vec_id"), col("embedding")))
  }

  /** DuckDB CTE mirroring [[plantedEmbeddings]] + exact index-order cosine */
  private val PlantedCte =
    """WITH pe AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 17 = 0
      |)""".stripMargin

  /** brute-force top-1 for each planted query — the shared oracle for
    * every ANN variant (LSH / IVF): the planted source is guaranteed
    * found and guaranteed rank 1
    */
  private val PlantedTop1Sql =
    s"""$PlantedCte, q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM pe WHERE vec_id >= 1000000
       |), c AS (
       |  SELECT vec_id AS nid, embedding AS cv FROM pe
       |), pr AS (
       |  SELECT qid, nid,
       |    round(
       |      list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * cv[i]::DOUBLE))
       |      / ( sqrt(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))
       |        * sqrt(list_sum(list_transform(range(1, len(cv) + 1), i -> cv[i]::DOUBLE * cv[i]::DOUBLE))) ),
       |      6) AS sim
       |  FROM q, c WHERE qid <> nid
       |), rk AS (
       |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
       |  FROM pr
       |)
       |SELECT qid, nid, sim FROM rk WHERE rk = 1 ORDER BY qid""".stripMargin

  private def corpusDocs(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(col("doc_id").as("docId"), col("text").as("content"))

  /** page url of doc `c` in the harvestlinks web fixture */
  private def urlOf(c: Column): Column =
    concat(lit("http://site"), (c % 7).cast("string"), lit(".test/doc"), c.cast("string"))

  /** Deterministic HTML-ish web corpus over documents — the
    * harvestlinks fixture (reference: harvestlinks/harvestlinks.cpp,
    * src/AnchorTextHarvester.cpp). Four markup links per page: two
    * in-corpus links with anchor text (the second often redirect-mapped),
    * one in-corpus link with a WHITESPACE-ONLY anchor (must drop —
    * AnchorTextHarvester.cpp:134 requires ≥1 anchor term), and one
    * off-corpus external link (drops at resolution). Pure column
    * expressions so DuckDB rebuilds the identical html strings.
    */
  private def webDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val n = docs.agg((max(col("doc_id")) + 1).as("__n"))
    val d1 = (col("doc_id") * 7 + 1) % col("__n")
    val d2 = (col("doc_id") * 13 + 3) % col("__n")
    val d3 = (col("doc_id") + 17) % col("__n")
    docs.crossJoin(broadcast(n)).select(col("doc_id"),
      urlOf(col("doc_id")).as("url"),
      concat(
        lit("<p>"), col("lang"), lit(" page</p><a href=\""), urlOf(d1),
        lit("\">jump doc "), d1.cast("string"),
        lit("</a><i>x</i><a href=\""), urlOf(d2),
        lit("\">see also "), d2.cast("string"), lit(" page</a><a href=\""),
        urlOf(d3), lit("\"> </a><a href=\"http://external.test/page"),
        (col("doc_id") % 5).cast("string"), lit("\">offsite ref</a>")).as("html"))
  }

  /** redirect map for the web fixture: every page with doc_id%5==2
    * redirects to the next page (single-hop conflation target set)
    */
  private def webRedirects(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val n = docs.agg((max(col("doc_id")) + 1).as("__n"))
    docs.crossJoin(broadcast(n)).where(col("doc_id") % 5 === 2)
      .select(urlOf(col("doc_id")).as("from_url"),
        urlOf((col("doc_id") + 1) % col("__n")).as("to_url"))
  }

  /** DuckDB mirror of [[webDocs]]/[[webRedirects]] + harvest/conflate/
    * resolve: `lc` = conflated link table, `lr` = in-corpus resolved
    * edges. generate_subscripts is 1-based (Spark posexplode is 0-based)
    * hence the `- 1`; the two regexp_extract_all lists zip positionally.
    */
  private val WebCte = {
    def u(e: String) = s"'http://site' || (($e) % 7) || '.test/doc' || ($e)"
    s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
       |w AS (
       |  SELECT doc_id, ${u("doc_id")} AS url,
       |    '<p>' || lang || ' page</p><a href="' || ${u("(doc_id*7+1) % n")} ||
       |    '">jump doc ' || ((doc_id*7+1) % n) ||
       |    '</a><i>x</i><a href="' || ${u("(doc_id*13+3) % n")} ||
       |    '">see also ' || ((doc_id*13+3) % n) || ' page</a><a href="' ||
       |    ${u("(doc_id+17) % n")} ||
       |    '"> </a><a href="http://external.test/page' || (doc_id % 5) ||
       |    '">offsite ref</a>' AS html
       |  FROM documents, nn
       |),
       |x AS (
       |  SELECT doc_id, url,
       |    regexp_extract_all(html, '<a href="([^"]+)">([^<]*)</a>', 1) AS hs,
       |    regexp_extract_all(html, '<a href="([^"]+)">([^<]*)</a>', 2) AS an
       |  FROM w
       |),
       |lraw AS (
       |  SELECT doc_id AS src_doc, url AS src_url,
       |    generate_subscripts(hs, 1) - 1 AS link_ord,
       |    unnest(hs) AS dst_url0, unnest(an) AS anchor0
       |  FROM x
       |),
       |l AS (
       |  SELECT src_doc, src_url, link_ord, dst_url0 AS dst_url,
       |    array_to_string(regexp_extract_all(lower(anchor0), '[a-z0-9]+'), ' ') AS anchor
       |  FROM lraw
       |  WHERE len(regexp_extract_all(lower(anchor0), '[a-z0-9]+')) > 0
       |),
       |rd AS (
       |  SELECT ${u("doc_id")} AS from_url, ${u("(doc_id+1) % n")} AS to_url
       |  FROM documents, nn WHERE doc_id % 5 = 2
       |),
       |lc AS (
       |  SELECT l.src_doc, l.src_url, l.link_ord,
       |    coalesce(rd.to_url, l.dst_url) AS dst_url, l.anchor
       |  FROM l LEFT JOIN rd ON l.dst_url = rd.from_url
       |),
       |lr AS (
       |  SELECT lc.*, w2.doc_id AS dst_doc
       |  FROM lc JOIN w w2 ON lc.dst_url = w2.url
       |)""".stripMargin
  }

  private val cfg = IndexConfig(analyzerMode = "simple", blockSize = 256, numBuckets = 8)

  /** One on-disk repository per sf dir, built through the BuildIndex
    * APPLICATION lifecycle (corpus parquet → param XML → build + write +
    * docno metadata). path = %08d of doc_id keeps the (repo,path,commit)
    * ordering monotone in doc_id, so the dense assigned docId equals
    * row_number() OVER (ORDER BY doc_id) in the DuckDB oracles, and
    * docno = 'r0/'||path||'@c0' is rebuildable text on both engines.
    * Shared by every dumpindex/runquery-over-stored-repo driver query.
    */
  private val storedRepoCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def storedRepo(s: SparkSession, dir: String): String =
    storedRepoCache.computeIfAbsent(dir, _ => {
      import graft.apps.BuildIndex
      val corpusTmp = java.nio.file.Files.createTempDirectory("graft-bi-c").toString
      val repoTmp = java.nio.file.Files.createTempDirectory("graft-bi-r").toString
      documents(s, dir).select(
        lit("r0").as("repo"),
        format_string("%08d", col("doc_id")).as("path"),
        lit("c0").as("commit"),
        col("text").as("content"))
        .write.mode("overwrite").parquet(corpusTmp)
      val bp = BuildIndex.parseParams(
        s"""<parameters>
           |  <index>$repoTmp</index>
           |  <corpus><path>$corpusTmp</path><class>parquet</class></corpus>
           |  <memory>500M</memory>
           |</parameters>""".stripMargin)
      BuildIndex.run(s, bp, cfg)
      repoTmp
    })

  /** a stored repository built with a `<corpus><metadata>` offset
    * metadata file (reference: OffsetMetadataAnnotator). The file is a
    * DETERMINISTIC fixture derived from doc_id (generation collects the
    * id column — fixture construction, not an engine path) and pins the
    * loader quirks: first-pair-wins duplicates, an existing-key (docno)
    * collision, uppercase keys, and a blank line that terminates the
    * parse halfway through the corpus.
    */
  private val offsetMetaRepoCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def offsetMetaRepo(s: SparkSession, dir: String): String =
    offsetMetaRepoCache.computeIfAbsent(dir, _ => {
      import graft.apps.BuildIndex
      val corpusTmp = java.nio.file.Files.createTempDirectory("graft-om-c").toString
      val repoTmp = java.nio.file.Files.createTempDirectory("graft-om-r").toString
      documents(s, dir).select(
        lit("r0").as("repo"),
        format_string("%08d", col("doc_id")).as("path"),
        lit("c0").as("commit"),
        col("text").as("content"))
        .write.mode("overwrite").parquet(corpusTmp)
      val ids = documents(s, dir).select("doc_id").as[Long](Encoders.scalaLong)
        .collect().sorted
      val cutoff = ids.max / 2
      def dn(id: Long) = f"r0/$id%08d@c0"
      val sb = new StringBuilder
      def emit(id: Long): Unit = {
        sb ++= s"${dn(id)}\tLANG\t${if (id % 2 == 0) "en" else "tr"}\n"
        if (id % 3 == 0) sb ++= s"${dn(id)}\torigURL\thttp://corpus.test/$id\n"
        if (id % 9 == 0) sb ++= s"${dn(id)}\torigurl\thttp://dup.test/$id\n" // first wins
        if (id % 5 == 0) sb ++= s"${dn(id)}\tdocno\tOVERRIDE\n" // existing key skips
      }
      ids.filter(_ <= cutoff).foreach(emit)
      sb ++= "\n" // blank line: reference loader stops HERE
      ids.filter(_ > cutoff).foreach(emit)
      val omFile = java.nio.file.Files.createTempFile("graft-om", ".tsv")
      java.nio.file.Files.write(omFile, sb.toString.getBytes("UTF-8"))
      BuildIndex.run(s, BuildIndex.parseParams(
        s"""<parameters>
           |  <index>$repoTmp</index>
           |  <corpus>
           |    <path>$corpusTmp</path>
           |    <metadata>$omFile</metadata>
           |  </corpus>
           |</parameters>""".stripMargin), cfg)
      repoTmp
    })

  /** two half-corpus repositories merged offline (dumpindex `m`): the
    * split at the median doc_id keeps docno order, so the merged
    * repository's rebased dense ids equal the whole-corpus build's
    */
  private val mergedRepoCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def mergedRepo(s: SparkSession, dir: String): String =
    mergedRepoCache.computeIfAbsent(dir, _ => {
      import graft.apps.{BuildIndex, DumpIndex}
      val docs = documents(s, dir)
      val n = docs.count()
      val cut = docs.select("doc_id").orderBy("doc_id")
        .limit(math.max(1, (n / 2).toInt)).agg(max("doc_id")).head().getLong(0)
      def half(pred: org.apache.spark.sql.Column): String = {
        val corpusTmp = java.nio.file.Files.createTempDirectory("graft-mg-c").toString
        val repoTmp = java.nio.file.Files.createTempDirectory("graft-mg-r").toString
        docs.where(pred).select(
          lit("r0").as("repo"),
          format_string("%08d", col("doc_id")).as("path"),
          lit("c0").as("commit"),
          col("text").as("content"))
          .write.mode("overwrite").parquet(corpusTmp)
        BuildIndex.run(s, BuildIndex.parseParams(
          s"""<parameters>
             |  <index>$repoTmp</index>
             |  <corpus><path>$corpusTmp</path><class>parquet</class></corpus>
             |  <memory>500M</memory>
             |</parameters>""".stripMargin), cfg)
        repoTmp
      }
      val a = half(col("doc_id") <= cut)
      val b = half(col("doc_id") > cut)
      val out = java.nio.file.Files.createTempDirectory("graft-mg-m").toString
      DumpIndex.merge(s, out, Seq(a, b))
      out
    })

  /** storedRepo with a makeprior-installed prior "mp": docno → log
    * prior for every 3rd document, fed through the FULL makeprior chain
    * (text input file → docno resolution → install under
    * `<repo>/prior/mp`) so q_makeprior exercises the application
    * surface end-to-end (reference: makeprior/makeprior.cpp)
    */
  private val priorRepoCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def priorRepo(s: SparkSession, dir: String): String =
    priorRepoCache.computeIfAbsent(dir, _ => {
      import graft.apps.{BuildIndex, MakePrior}
      val repo = storedRepo(s, dir)
      // the repository re-assigns dense docIds; the ORIGINAL doc_id is
      // the %08d path inside the docno ("r0/00000123@c0") — priors key
      // off it so the DuckDB oracle works in parquet doc_id space
      val docnos = s.read.parquet(BuildIndex.metadataDir(repo))
        .select(col("docno")).collect().map(_.getString(0))
      val lines = docnos.flatMap { dn =>
        val origId = dn.substring(dn.indexOf('/') + 1, dn.indexOf('@')).toLong
        if (origId % 3 == 0)
          Some(s"$dn ${math.log(1.0 / (1 + origId % 5))}")
        else None
      }
      val f = java.nio.file.Files.createTempFile("graft-mp-in", ".txt")
      java.nio.file.Files.writeString(f, lines.mkString("\n"))
      MakePrior.install(s, repo, "mp", MakePrior.readInput(s, f.toString))
      repo
    })

  /** A stored repo over the CONSTRUCTED corpus
    * `lang || ' marker<d> tail words here'` (token spans constant:
    * lang[0,2) marker<d>[3,10) tail[11,15) words[16,21) here[22,26)),
    * then ModifyFieldsApp surgery from an offset-annotations TSV for
    * every EVEN doc: mk=[3,10) numeric d (exact token), tl=[11,21)
    * (two tokens), sub=[16,26) with parentid→mk, rd=[5,14) (midpoint
    * rounding on both edges → tokens [1,3)). Exercises file parse →
    * docno resolution → byte→token conversion → rewriteFields; the
    * oracle is the hand-derived constant extent table.
    */
  private val mfRepoCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mfRepo(s: SparkSession, dir: String): String =
    mfRepoCache.computeIfAbsent(dir, _ => {
      import graft.apps.{BuildIndex, ModifyFieldsApp}
      val corpusTmp = java.nio.file.Files.createTempDirectory("graft-mf-c").toString
      val repoTmp = java.nio.file.Files.createTempDirectory("graft-mf-r").toString
      documents(s, dir).select(
        lit("r0").as("repo"),
        format_string("%08d", col("doc_id")).as("path"),
        lit("c0").as("commit"),
        concat(col("lang"), lit(" marker"), (col("doc_id") % 10).cast("string"),
          lit(" tail words here")).as("content"))
        .write.mode("overwrite").parquet(corpusTmp)
      BuildIndex.run(s, BuildIndex.Params(repoPath = repoTmp,
        corpusPaths = Seq(corpusTmp)), cfg)
      val ids = documents(s, dir).select(col("doc_id"))
        .where(col("doc_id") % 2 === 0).collect().map(_.getLong(0)).sorted
      val lines = ids.flatMap { d =>
        val dn = f"r0/$d%08d@c0"
        Seq(
          s"$dn\tTAG\t${d * 10 + 1}\tmk\t3\t7\t${d % 10}\t0",
          s"$dn\tTAG\t${d * 10 + 2}\ttl\t11\t10\t0\t0",
          s"$dn\tTAG\t${d * 10 + 3}\tsub\t16\t10\t0\t${d * 10 + 1}",
          s"$dn\tTAG\t${d * 10 + 4}\trd\t5\t9\t0\t0")
      }
      val tsv = java.nio.file.Files.createTempFile("graft-mf-ann", ".tsv")
      java.nio.file.Files.writeString(tsv, lines.mkString("\n"))
      ModifyFieldsApp.run(s, ModifyFieldsApp.Params(
        indexPath = repoTmp, corpus = corpusTmp, annotations = tsv.toString,
        addFields = Seq(ModifyFieldsApp.FieldAdd("mk", numeric = true),
          ModifyFieldsApp.FieldAdd("tl", numeric = false),
          ModifyFieldsApp.FieldAdd("sub", numeric = false),
          ModifyFieldsApp.FieldAdd("rd", numeric = false))),
        BuildIndex.storedAnalyzer(repoTmp).get)
      repoTmp
    })

  // one index build per sf dir per JVM: Verify/Bench run ~40 queries
  // against the same corpus — rebuilding per query would dominate wall
  // time. Cached DataFrames are persisted (MEMORY_AND_DISK default).
  private val indexCache = new java.util.concurrent.ConcurrentHashMap[String, graft.index.InvertedIndex]()

  private def buildIndex(s: SparkSession, dir: String) =
    indexCache.computeIfAbsent(dir, _ => {
      val idx = IndexBuilder.build(corpusDocs(s, dir), cfg)
      idx.copy(
        postings = idx.postings.persist(),
        dictionary = idx.dictionary.persist(),
        doclens = idx.doclens.persist(),
        segments = idx.segments.persist(),
        // hot-term topdocs lists seed the WAND threshold (df>50 at this
        // corpus scale; the reference default is 1000)
        topdocs = IndexBuilder.buildTopdocs(idx.postings,
          cfg.copy(topdocsMinDf = 50L, topdocsFraction = 0.01)).persist())
    })

  private def engine(s: SparkSession, dir: String): Engine =
    new Engine(s, buildIndex(s, dir), cfg.analyzer, ScoringRule(method = "okapi"))

  /** QueryEnvironment with TWO repositories added (addIndex federation):
    * the corpus splits at its docId midpoint, each half builds its own
    * repository with its own local docIds, and Federation.combine rebases
    * them onto documentBase offsets — which reconstructs the original
    * doc_ids exactly, so federated scores must equal the single-repository
    * BM25 run and share its oracle (reference: src/QueryEnvironment.cpp:
    * 242-316 evaluate-then-merge, :957-984 cross-server stats sums).
    */
  private val federatedIndexCache = new java.util.concurrent.ConcurrentHashMap[String, graft.index.InvertedIndex]()

  private def federatedEngine(s: SparkSession, dir: String): Engine = {
    val idx = federatedIndexCache.computeIfAbsent(dir, _ => {
      val docs = corpusDocs(s, dir)
      val r = docs.agg(min(col("docId")), max(col("docId"))).head()
      val mn = r.getLong(0)
      val m = mn + (r.getLong(1) - mn + 1) / 2
      val half1 = IndexBuilder.build(docs.where(col("docId") < m), cfg)
      val half2 = IndexBuilder.build(
        docs.where(col("docId") >= m)
          .withColumn("docId", col("docId") - m + mn), cfg)
      graft.index.Federation.combine(Seq(half1, half2))
    })
    new Engine(s, idx, cfg.analyzer, ScoringRule(method = "okapi"))
  }

  /** engine with annotator-injected fields: positional `head` (first 10
    * token positions) + whole-doc numeric `nchars` from the n_chars
    * column (OffsetAnnotation/NumericFieldAnnotator analogues).
    */
  private val fieldIndexCache = new java.util.concurrent.ConcurrentHashMap[String, graft.index.InvertedIndex]()

  private def fieldEngine(s: SparkSession, dir: String): Engine = {
    val idx = fieldIndexCache.computeIfAbsent(dir, _ => {
      val docs = documents(s, dir)
        .select(col("doc_id").as("docId"), col("text").as("content"), col("n_chars"))
      val built = IndexBuilder.build(docs, cfg,
        annotate = df => FieldAnnotators.numericField("nchars", "n_chars")(
          FieldAnnotators.nestedHeadField(4)( // lead ⊂ head: shrinkage tree
            FieldAnnotators.headField(10)(df))))
      built.copy(fieldExtents = built.fieldExtents.persist(),
        doclens = built.doclens.persist(), postings = built.postings.persist())
    })
    new Engine(s, idx, cfg.analyzer, ScoringRule(method = "okapi"))
  }

  /** Engine with a THREE-level field tree (head ⊃ lead ⊃ kick) plus a
    * numeric and a DATE whole-doc field — the fixture for the path-op,
    * date-op and deep-NEXI driver queries (kept separate from
    * [[fieldEngine]] so the established two-level oracles stay stable).
    *
    * The kick field is DELIBERATELY non-uniform so the three path ops
    * (#child/#descendant/#parent) each select a different doc subset:
    *   doc_id % 3 == 0 → kick[0,2) with direct parent `lead`
    *   doc_id % 3 == 1 → kick[0,2) with direct parent `head` (skips lead)
    *   doc_id % 3 == 2 → no kick extent at all
    * mdate = 2020-01-01 + (doc_id % 400) days, deterministic and
    * recomputable in DuckDB from doc_id alone.
    */
  private val deepFieldIndexCache = new java.util.concurrent.ConcurrentHashMap[String, graft.index.InvertedIndex]()

  private def deepFieldEngine(s: SparkSession, dir: String): Engine = {
    val idx = deepFieldIndexCache.computeIfAbsent(dir, _ => {
      val docs = documents(s, dir)
        .select(col("doc_id").as("docId"), col("text").as("content"), col("n_chars"))
        .withColumn("mdate", date_format(
          date_add(to_date(lit("2020-01-01")), (col("docId") % 400).cast("int")),
          "yyyy-MM-dd"))
      val built = IndexBuilder.build(docs, cfg,
        // a second alias of the same payload under the reference's
        // HARDWIRED field name, so the bare-literal #date* forms
        // (#datebefore(02/01/2020)) have their "date" field
        annotate = df => FieldAnnotators.dateField("date", "mdate")(
          FieldAnnotators.dateField("mdate", "mdate")(
          FieldAnnotators.numericField("nchars", "n_chars")(
            FieldAnnotators.nestedHeadField(2, parent = "lead", name = "kick",
              cond = col("docId") % 3 === 0)(
              FieldAnnotators.nestedHeadField(2, parent = "head", name = "kick",
                cond = col("docId") % 3 === 1)(
                FieldAnnotators.nestedHeadField(4)(
                  FieldAnnotators.headField(10)(df))))))))
      built.copy(fieldExtents = built.fieldExtents.persist(),
        doclens = built.doclens.persist(), postings = built.postings.persist())
    })
    new Engine(s, idx, cfg.analyzer, ScoringRule(method = "okapi"))
  }

  /** per-dir cache of the q_rewrite_fields store (build + writeAll +
    * surgery happen once; the query re-opens and dumps)
    */
  private val rewrittenStoreCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** absolute path shared by the Spark readers and the DuckDB oracles
    * (read_csv) for the reference-generated stemmer golden vectors —
    * resolved against the working directory so any checkout location
    * works (SPARK_GRAFT_REPO overrides; /root/repo is the driver's
    * checkout fallback for harnesses that cd elsewhere)
    */
  private val GoldenDir: String = {
    val rel = "src/test/resources/graft"
    val candidates =
      sys.env.get("SPARK_GRAFT_REPO").map(r => s"$r/$rel").toSeq ++
        Seq(s"${new java.io.File(".").getCanonicalPath}/$rel", s"/root/repo/$rel")
    candidates.find(p => new java.io.File(s"$p/kstem_golden.tsv").isFile)
      .getOrElse(candidates.last)
  }

  private def goldenWords(s: SparkSession, file: String): DataFrame =
    s.read.option("sep", "\t")
      .schema("word STRING, stem_ref STRING")
      .csv(s"$GoldenDir/$file")

  // #datebetween bounds as (doc_id % 400) offsets from the 2020-01-01 base
  private val DateBase = java.time.LocalDate.parse("2020-01-01").toEpochDay
  private val DateLoOff = java.time.LocalDate.parse("2020-02-01").toEpochDay - DateBase // 31
  private val DateHiOff = java.time.LocalDate.parse("2020-06-01").toEpochDay - DateBase // 152

  /** Flagship: BM25 top-k on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    engine(spark, "/root/testdata/sf0.001")
      .runQuery(s"#combine(${BmTerms.mkString(" ")})", 10)

  // ------------------------------------------------------------------
  // shared DuckDB SQL fragments
  // ------------------------------------------------------------------

  /** tokenized documents CTE (DuckDB) */
  private val DTok =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
      |), dl AS (
      |  SELECT doc_id, len(toks) AS doclen FROM d
      |), tok AS (
      |  SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM d
      |)""".stripMargin

  /** Shared DuckDB CTE for the KBA stream-scorer oracles: mirrors
    * createMinimalParsedStream token rules (title unfiltered, body
    * len>2 + stop set), the int-truncated averageDocSize, and the
    * per-entity parameter algebra of KbaScorers.scoreStreams; ends at
    * `st(doc_id, entity, model, s)` — one row per candidate × model.
    */
  private val KbaStreamCte =
    """WITH base AS (
      |  SELECT doc_id, 'a ' || lang || ' kba doc' AS title, text AS body FROM documents
      |), tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(title), '\s+'), t -> len(t) > 0) AS ttoks,
      |    list_filter(string_split_regex(lower(body), '\s+'),
      |                t -> len(t) > 2 AND t NOT IN ('the','a')) AS btoks
      |  FROM base
      |), z AS (
      |  SELECT doc_id, len(ttoks) + len(btoks) AS sz FROM tk
      |), totals AS (
      |  SELECT (SELECT count(*) FROM z) AS n,
      |         (SELECT sum(sz) FROM z)::DOUBLE AS c,
      |         trunc((SELECT sum(sz) FROM z)::DOUBLE / (SELECT count(*) FROM z) + 0.5)::BIGINT AS avgd
      |), m AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_concat(ttoks, btoks)) AS term FROM tk
      |  ) WHERE term IN ('data','merge','query','join')
      |  GROUP BY doc_id, term
      |), ts AS (
      |  SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM m GROUP BY term
      |), params(entity, term, dup_lab, dup_abs, kl_freq) AS (
      |  VALUES ('e1','data',1,1,1),('e1','merge',1,1,1),('e1','query',0,1,1),
      |         ('e1','join',0,1,1),('e2','query',1,0,1),('e2','join',1,0,1)
      |), consts(entity, n_lab, n_abs, qsz, has_abs, kl_sum) AS (
      |  VALUES ('e1',2,4,4,true,4),('e2',2,0,2,false,2)
      |), tp AS (
      |  SELECT p.entity, p.term, p.dup_lab, p.dup_abs, p.kl_freq,
      |    ln((t.n - coalesce(s.df,0) + 0.5)/(coalesce(s.df,0) + 0.5)) AS idf,
      |    2500.0 * coalesce(s.cf,0) / t.c AS mu_cf,
      |    CASE WHEN 2500.0 * coalesce(s.cf,0) / t.c > 0.0001
      |         THEN ln(2500.0 * coalesce(s.cf,0) / t.c) ELSE 0.0 END AS unm
      |  FROM params p LEFT JOIN ts s USING(term) CROSS JOIN totals t
      |), ec AS (
      |  SELECT entity, sum(dup_lab * unm) AS lm_const,
      |         sum(dup_abs * unm) AS lmx_const, sum(kl_freq * unm) AS kl_const
      |  FROM tp GROUP BY entity
      |), r0 AS (
      |  SELECT m.doc_id, p.entity, m.tf, z.sz,
      |    p.dup_lab, p.dup_abs, p.kl_freq, p.idf, p.mu_cf, p.unm,
      |    0.4375 + (z.sz::DOUBLE / t.avgd) * 1.3125 AS denom
      |  FROM m JOIN tp p USING(term) JOIN z USING(doc_id) CROSS JOIN totals t
      |), agg AS (
      |  SELECT doc_id, entity, max(sz) AS sz,
      |    sum(dup_lab * idf * tf / (tf + denom)) AS bm_sum,
      |    sum(dup_abs * idf * tf / (tf + denom)) AS bmx_sum,
      |    sum(dup_lab * (ln(tf + mu_cf) - unm)) AS lm_delta,
      |    sum(dup_abs * (ln(tf + mu_cf) - unm)) AS lmx_delta,
      |    sum(kl_freq * (ln(tf + mu_cf) - unm)) AS kl_delta,
      |    max(CASE WHEN dup_lab > 0 THEN 1 ELSE 0 END) AS is_cand
      |  FROM r0 GROUP BY doc_id, entity
      |), sc AS (
      |  SELECT a.doc_id, a.entity,
      |    a.bm_sum AS bm25,
      |    CASE WHEN c.has_abs THEN a.bmx_sum ELSE 0.0 END AS bm25ext,
      |    e.lm_const + a.lm_delta - c.n_lab * ln(a.sz + 2500.0) AS lm,
      |    CASE WHEN c.has_abs
      |         THEN e.lmx_const + a.lmx_delta - c.n_abs * ln(a.sz + 2500.0)
      |         ELSE 0.0 END AS lmext,
      |    (e.kl_const + a.kl_delta - c.kl_sum * ln(a.sz + 2500.0)) / c.qsz AS kl
      |  FROM agg a JOIN consts c USING(entity) JOIN ec e USING(entity)
      |  WHERE a.is_cand = 1
      |), st AS (
      |  SELECT doc_id, entity, 'BM25' AS model, bm25 AS s FROM sc
      |  UNION ALL SELECT doc_id, entity, 'BM25Ext', bm25ext FROM sc
      |  UNION ALL SELECT doc_id, entity, 'LanguageModel', lm FROM sc
      |  UNION ALL SELECT doc_id, entity, 'LanguageModelExt', lmext FROM sc
      |  UNION ALL SELECT doc_id, entity, 'KLDivergence', kl FROM sc
      |)""".stripMargin

  /** shared by q_decontaminate and its Bloom-pre-filtered twin — the
    * Bloom pass must be output-identical to the exact operator
    */
  private val DecontaminateSql =
    """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 6, 1)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        |         toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])) AS gr
        |  FROM d
        |), pg AS (
        |  SELECT DISTINCT unnest(gr) AS gram FROM g WHERE doc_id < 5
        |), dg AS (
        |  SELECT doc_id, unnest(gr) AS gram FROM g
        |), hits AS (
        |  SELECT dg.doc_id, count(*) AS hit_grams FROM dg JOIN pg USING(gram) GROUP BY dg.doc_id
        |)
        |SELECT d.doc_id, coalesce(h.hit_grams, 0)::BIGINT AS hit_grams,
        |       (CASE WHEN coalesce(h.hit_grams, 0) > 0 THEN 1 ELSE 0 END)::BIGINT AS contaminated
        |FROM d LEFT JOIN hits h USING(doc_id) ORDER BY doc_id""".stripMargin

  private def inList(ts: Seq[String]) = ts.map(t => s"'$t'").mkString("(", ",", ")")

  /** Greedy non-overlap occurrence fold over a (doc_id, mb, me) match
    * table — the reference's list-belief counting rule (an extent counts
    * iff its begin ≥ the last counted extent's end; reference:
    * src/ListBeliefNode.cpp:58-74, src/ContextCountAccumulator.cpp:84-97).
    * Encoded as a DuckDB list_reduce whose accumulator reuses the
    * element struct shape: c = running count, le = last counted end.
    */
  private val UwFoldSql =
    // DuckDB TRAP (v1.0, verified): a list_reduce lambda that returns the
    // UNCHANGED accumulator from a CASE branch mis-folds under grouped
    // plans (counts drift per plan shape); the pure-arithmetic update
    // below is stable. list_sort on the struct list = (begin, end) order.
    "(list_reduce(list_prepend({'c': 0::BIGINT, 'le': 0::BIGINT}, " +
      "list_sort(list({'c': mb::BIGINT, 'le': me::BIGINT}))), " +
      "(acc, m) -> {'c': acc.c + (m.c >= acc.le)::BIGINT, " +
      "'le': acc.le + (m.c >= acc.le)::BIGINT * (m.le - acc.le)})).c"

  /** #uwN pair matches in the kernel's anchored emission: every pooled
    * position (either term) anchors a match ending at the FIRST
    * occurrence of the other term after it when within reach
    * (reference: src/UnorderedWindowNode.cpp:69-186); d = N−1. The
    * per-document count applies the greedy non-overlap fold.
    */
  private def SdmUwPairSql(x: String, y: String, d: Int) =
    s"""SELECT doc_id, $UwFoldSql AS u FROM (
       |    SELECT m.doc_id, m.pos AS mb, m.np + 1 AS me FROM (
       |      SELECT a.doc_id, a.pos, min(b.pos) AS np
       |      FROM tok a JOIN tok b ON a.doc_id=b.doc_id AND b.pos>a.pos AND b.term='$y'
       |      WHERE a.term='$x' GROUP BY a.doc_id, a.pos) m
       |    WHERE m.np - m.pos <= $d
       |    UNION ALL
       |    SELECT m.doc_id, m.pos AS mb, m.np + 1 AS me FROM (
       |      SELECT a.doc_id, a.pos, min(b.pos) AS np
       |      FROM tok a JOIN tok b ON a.doc_id=b.doc_id AND b.pos>a.pos AND b.term='$x'
       |      WHERE a.term='$y' GROUP BY a.doc_id, a.pos) m
       |    WHERE m.np - m.pos <= $d
       |  ) GROUP BY doc_id""".stripMargin

  /** shared oracle for the boolean NEXI pair: two about() beliefs over
    * the head extent [0, min(10, doclen)), folded by and (combine 1/k)
    * or or (log(1−Π(1−exp)))
    */
  private def nexiBoolSql(orFold: Boolean): String = {
    val fold =
      if (orFold) "ln(1.0 - (1.0 - exp(g1)) * (1.0 - exp(g2)))"
      else "g1 / 2 + g2 / 2"
    s"""$DTok, st AS (
       |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
       |), cf AS (
       |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
       |         (SELECT count(*) FROM tok WHERE term = 'merge') AS cm,
       |         (SELECT count(*) FROM tok WHERE term = 'query') AS cq
       |), cand AS (
       |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data','merge','query')
       |), tfe AS (
       |  SELECT doc_id,
       |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS tfd,
       |    count(*) FILTER (WHERE term = 'merge' AND pos <= 10) AS tfm,
       |    count(*) FILTER (WHERE term = 'query' AND pos <= 10) AS tfq
       |  FROM tok WHERE doc_id IN (SELECT doc_id FROM cand) GROUP BY doc_id
       |), sc AS (
       |  SELECT t.doc_id, least(10, dl.doclen) AS hlen,
       |    0.5 * ln((t.tfd + 2500.0 * cf.cd / st.tt) / (least(10, dl.doclen) + 2500.0))
       |  + 0.5 * ln((t.tfm + 2500.0 * cf.cm / st.tt) / (least(10, dl.doclen) + 2500.0)) AS g1,
       |    1.0 * ln((t.tfq + 2500.0 * cf.cq / st.tt) / (least(10, dl.doclen) + 2500.0)) AS g2
       |  FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
       |)
       |SELECT doc_id, 0::BIGINT AS "begin", hlen::BIGINT AS "end",
       |  round($fold, 6) AS score
       |FROM sc ORDER BY doc_id, "begin"""".stripMargin
  }

  /** exact okapi BM25 SQL (k1=1.2, b=0.75, qtw=1) over the simple tokens */
  private def bm25Sql(terms: Seq[String], k: Int): String =
    s"""$DTok, st AS (
       |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
       |), p AS (
       |  SELECT term, doc_id, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(terms)} GROUP BY term, doc_id
       |), ts AS (
       |  SELECT term, count(*) AS df FROM p GROUP BY term
       |), sc AS (
       |  SELECT p.doc_id,
       |    sum( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
       |         / (p.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
       |  FROM p JOIN ts USING(term) JOIN dl USING(doc_id) CROSS JOIN st
       |  GROUP BY p.doc_id
       |)
       |SELECT doc_id, round(s, 6) AS score FROM sc
       |ORDER BY round(s, 6) DESC, doc_id LIMIT $k""".stripMargin

  /** Dirichlet LM SQL (μ=2500, #combine = mean of logs over the union
    * candidate set, missing term → background; mirrors
    * DirichletTermScoreFunction + WeightedAndNode 1/k weights).
    */
  private def dirichletSql(terms: Seq[String], k: Int): String =
    s"""$DTok, st AS (
       |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
       |), p AS (
       |  SELECT term, doc_id, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(terms)} GROUP BY term, doc_id
       |), ctf AS (
       |  SELECT term, count(*) AS ctf FROM tok
       |  WHERE term IN ${inList(terms)} GROUP BY term
       |), cand AS (
       |  SELECT DISTINCT doc_id FROM p
       |), grid AS (
       |  SELECT c.doc_id, t.term, t.ctf, coalesce(p.tf, 0) AS tf
       |  FROM cand c CROSS JOIN ctf t
       |  LEFT JOIN p ON p.doc_id = c.doc_id AND p.term = t.term
       |), sc AS (
       |  SELECT g.doc_id,
       |    sum(ln((g.tf + 2500.0 * g.ctf / st.tt) / (dl.doclen + 2500.0)))
       |      / ${terms.size} AS s
       |  FROM grid g JOIN dl ON dl.doc_id = g.doc_id CROSS JOIN st
       |  GROUP BY g.doc_id
       |)
       |SELECT doc_id, round(s, 6) AS score FROM sc
       |ORDER BY round(s, 6) DESC, doc_id LIMIT $k""".stripMargin

  /** Jelinek-Mercer LM SQL (λ_collection=0.4, document λ=0) */
  private def jmSql(terms: Seq[String], k: Int): String =
    s"""$DTok, st AS (
       |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
       |), p AS (
       |  SELECT term, doc_id, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(terms)} GROUP BY term, doc_id
       |), ctf AS (
       |  SELECT term, count(*) AS ctf FROM tok
       |  WHERE term IN ${inList(terms)} GROUP BY term
       |), cand AS (
       |  SELECT DISTINCT doc_id FROM p
       |), grid AS (
       |  SELECT c.doc_id, t.term, t.ctf, coalesce(p.tf, 0) AS tf
       |  FROM cand c CROSS JOIN ctf t
       |  LEFT JOIN p ON p.doc_id = c.doc_id AND p.term = t.term
       |), sc AS (
       |  SELECT g.doc_id,
       |    sum(ln(0.6 * g.tf / dl.doclen + 0.4 * g.ctf / st.tt))
       |      / ${terms.size} AS s
       |  FROM grid g JOIN dl ON dl.doc_id = g.doc_id CROSS JOIN st
       |  GROUP BY g.doc_id
       |)
       |SELECT doc_id, round(s, 6) AS score FROM sc
       |ORDER BY round(s, 6) DESC, doc_id LIMIT $k""".stripMargin

  /** 16-bit simhash SQL, generated bit-by-bit (mirrors TextPipeline.simhash) */
  private def simhash16Sql: String = {
    val votes = (0 until 16).map { bit =>
      val p = bit / 4 + 1
      val b = 1 << (bit % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, $p, 1)) - 1) // $b) % 2 = 1 THEN 1 ELSE -1 END) AS v$bit"
    }.mkString(",\n    ")
    val sig = (0 until 16).map(bit => s"CASE WHEN v$bit > 0 THEN ${1L << bit} ELSE 0 END").mkString(" + ")
    s"""$DTok, h AS (
       |  SELECT doc_id, substr(md5(term), 1, 4) AS h FROM tok
       |), votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY doc_id
       |)
       |SELECT doc_id, ($sig)::BIGINT AS simhash FROM votes ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // queries (Spark side)
  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- index build core (SURVEY §2.B) ----
    "q_dictionary" -> ((s, dir) => {
      buildIndex(s, dir).dictionary
        .select(col("term"), col("df"), col("ctf"),
          col("maxDocLen").cast(LongType).as("max_dl"),
          col("minDocLen").cast(LongType).as("min_dl"))
        .orderBy("term")
    }),

    "q_doclens" -> ((s, dir) => {
      buildIndex(s, dir).doclens
        .select(col("docId").as("doc_id"), col("length").cast(LongType).as("doclen"))
        .orderBy("doc_id")
    }),

    "q_corpus_stats" -> ((s, dir) => {
      val st = buildIndex(s, dir).stats
      s.createDataFrame(Seq((st.totalDocs, st.totalTerms, st.uniqueTerms)))
        .toDF("total_docs", "total_terms", "unique_terms")
    }),

    "q_term_postings" -> ((s, dir) => {
      // dumpindex `t` analogue: one term's posting list
      buildIndex(s, dir).postings.where(col("term") === "merge")
        .select(col("docId").as("doc_id"), col("tf").cast(LongType).as("tf"))
        .orderBy("doc_id")
    }),

    // ---- BM25 top-k query core (SURVEY §2.C/D/E) ----
    "q_bm25_topk" -> ((s, dir) => {
      val eng = engine(s, dir)
      val ast = QueryParser.parse(s"#combine(${BmTerms.mkString(" ")})")
      eng.evaluate(ast).df
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
    }),

    "q_tfidf_topk" -> ((s, dir) => {
      // the second -baseline mode: lemur tfidf, idf = log((N+1)/(df+0.5)),
      // BM25 tf shape (reference: src/TermScoreFunctionFactory.cpp:79-101)
      val eng = engine(s, dir)
      eng.setScoringRules("method:tfidf")
      eng.runQuery(s"#combine(${BmTerms.mkString(" ")})", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_bm25_daat" -> ((s, dir) => {
      // same query through the block-max WAND kernel over compressed
      // segments — must agree with the SQL oracle (and thus with
      // q_bm25_topk's DataFrame path)
      val eng = engine(s, dir)
      eng.runQuery(s"#combine(${BmTerms.mkString(" ")})", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_runquery" -> ((s, dir) => {
      // the IndriRunQuery application lifecycle end-to-end: XML
      // parameter file → environment (baseline okapi) → batched
      // execution → TREC-scorable lines (number Q0 docno rank score
      // runID). Numbering = <number> when present else queryOffset +
      // 0-based position (the reference's offset quirk,
      // runquery/IndriRunQuery.cpp:671). docno = 'D'||doc_id metadata;
      // scores print %.6f of the rounded value so both engines emit
      // identical text; ranks ride the ROUNDED ordering for the same
      // reason (the established double-ordering oracle rule).
      import graft.apps.RunQuery
      val xml =
        s"""<parameters>
           |  <query>${BmTerms.mkString(" ")}</query>
           |  <query><number>trec7</number><text>${BandTerms.mkString(" ")}</text></query>
           |  <count>15</count>
           |  <baseline>okapi</baseline>
           |  <runID>graft</runID>
           |  <trecFormat>true</trecFormat>
           |  <queryOffset>100</queryOffset>
           |</parameters>""".stripMargin
      val p = RunQuery.parseParams(xml)
      val eng = RunQuery.environmentFor(s, buildIndex(s, dir), p, cfg.analyzer)
      eng.setMetadata(documents(s, dir).select(col("doc_id").as("docId"),
        concat(lit("D"), col("doc_id")).as("docno")))
      RunQuery.execute(eng, p).map { case (num, df) =>
        RunQuery.trecLines(eng, num,
          df.select(col("docId"), round(col("score"), 6).as("score")),
          p, fixedPrecision = Some(6))
      }.reduce(_ unionByName _)
        .select(col("query_number"), col("rank").cast(LongType).as("rk"),
          col("docId").as("doc_id"), col("line"))
        .orderBy(col("query_number"), col("rk"))
    }),

    "q_buildindex" -> ((s, dir) => {
      // the IndriBuildIndex → IndriRunQuery lifecycle end-to-end ON
      // DISK: a corpus parquet of (repo, path, commit, content) rows →
      // build params XML → BuildIndex.run (dense docIds over
      // (repo,path,commit), segment tables + docno metadata persisted,
      // resumable) → RunQuery opens the STORED repository, attaches the
      // persisted metadata, and prints TREC lines through the DAAT
      // kernel. path = %08d of doc_id makes the (repo,path,commit)
      // ordering monotone in doc_id, so the app's assigned docId is
      // row_number() OVER (ORDER BY doc_id) in the oracle, and docno =
      // 'r0/'||path||'@c0' is rebuildable text on both engines.
      import graft.apps.RunQuery
      val repoTmp = storedRepo(s, dir)
      val rp = RunQuery.parseParams(
        s"""<parameters>
           |  <index>$repoTmp</index>
           |  <query>${BmTerms.mkString(" ")}</query>
           |  <count>15</count>
           |  <baseline>okapi</baseline>
           |  <runID>graft</runID>
           |  <trecFormat>true</trecFormat>
           |</parameters>""".stripMargin)
      val eng = RunQuery.openEnvironment(s, rp, cfg.analyzer)
      RunQuery.execute(eng, rp).map { case (num, df) =>
        RunQuery.trecLines(eng, num,
          df.select(col("docId"), round(col("score"), 6).as("score")),
          rp, fixedPrecision = Some(6))
      }.reduce(_ unionByName _)
        .select(col("query_number"), col("rank").cast(LongType).as("rk"),
          col("docId").as("doc_id"), col("line"))
        .orderBy(col("rk"))
    }),

    "q_offset_metadata" -> ((s, dir) => {
      // offset METADATA injection end-to-end (reference:
      // src/OffsetMetadataAnnotator.cpp via <corpus><metadata>): build
      // with the fixture file, open the stored repo through RunQuery
      // (metadata auto-attach), serve documentIDsFromMetadata + the
      // wide metadata surface. Quirks pinned in the output: uppercase
      // LANG key downcased, dup origurl first-wins, docno collision
      // skipped, everything after the mid-corpus blank line ignored.
      import graft.apps.{BuildIndex, RunQuery}
      val repo = offsetMetaRepo(s, dir)
      val rp = RunQuery.Params(indexPaths = Seq(repo))
      val eng = RunQuery.openEnvironment(s, rp, cfg.analyzer)
      val en = eng.documentIDsFromMetadata("lang", Seq("en"))
        .withColumn("is_en", lit(1L))
      s.read.parquet(BuildIndex.metadataDir(repo))
        .join(en, Seq("docId"), "left")
        .select(col("docno"), col("origurl"), col("lang"),
          coalesce(col("is_en"), lit(0L)).as("is_en"))
        .orderBy("docno")
    }),

    "q_makeprior" -> ((s, dir) => {
      // makeprior → stored prior → RunQuery auto-attach → #prior(mp)
      // under Dirichlet: every 3rd doc carries ln(1/(1+doc_id%5)), all
      // others the dense −1e10 default (reference: makeprior/makeprior
      // .cpp merge_sorted_runs lowProbability; src/PriorNode.cpp)
      import graft.apps.RunQuery
      val repo = priorRepo(s, dir)
      val rp = RunQuery.parseParams(
        s"""<parameters>
           |  <index>$repo</index>
           |  <query>#combine(data #prior(mp))</query>
           |  <count>20</count>
           |  <rule>method:dirichlet</rule>
           |</parameters>""".stripMargin)
      val eng = RunQuery.openEnvironment(s, rp, cfg.analyzer)
      val res = RunQuery.execute(eng, rp).head._2
      // stored docId → original parquet doc_id via the docno metadata
      val meta = s.read.parquet(graft.apps.BuildIndex.metadataDir(repo))
        .select(col("docId"),
          regexp_extract(col("docno"), "/(\\d+)@", 1).cast(LongType).as("doc_id"))
      res.join(meta, Seq("docId"))
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_modifyfields" -> ((s, dir) => {
      // the modifyfields APPLICATION chain (reference: modifyfields/
      // ModifyFields.cpp + src/OffsetAnnotationAnnotator.cpp): offset
      // annotations in byte space → token-extent field surgery on a
      // stored repository; see mfRepo for the fixture's constant spans
      val repo = mfRepo(s, dir)
      val meta = s.read.parquet(graft.apps.BuildIndex.metadataDir(repo))
        .select(col("docId"),
          regexp_extract(col("docno"), "/(\\d+)@", 1).cast(LongType).as("doc_id"))
      s.read.parquet(s"$repo/fields")
        .join(meta, Seq("docId"))
        .select(col("doc_id"), col("field"),
          col("begin").as("fbegin"), col("end").as("fend"),
          col("number"), col("ordinal"),
          col("parentField").as("parent_field"),
          col("parentOrdinal").as("parent_ordinal"))
        .orderBy("doc_id", "field")
    }),

    "q_dumpindex" -> ((s, dir) => {
      // dumpindex `tp merge` over the STORED repository: only that
      // term's segment blocks decode (the term filter lands on the
      // segments scan before the decode flatMap), the argument
      // stems through the repository's recorded chain, and positions
      // round-trip the delta+varint codec
      import graft.apps.DumpIndex
      DumpIndex.command(s, storedRepo(s, dir), "tp", Seq("merge"))
        .select(col("docId").as("doc_id"), col("tf"),
          explode(col("positions")).as("p"))
        .select(col("doc_id"), col("tf"), col("p").cast(LongType).as("pos"))
        .orderBy("doc_id", "pos")
    }),

    "q_dumpindex_merged" -> ((s, dir) => {
      // dumpindex `m` end-to-end: the corpus builds as TWO half
      // repositories (split at the median doc_id, so docno order is
      // preserved across the halves), merges offline into one repo
      // (docIds rebase onto the federation bases = the whole-corpus
      // build's dense ids), and the merged store serves the same
      // `tp merge` dump — the oracle is q_dumpindex's whole-corpus SQL
      // verbatim (reference: dumpindex merge_repositories →
      // IndexWriter k-way merge with docID re-offset)
      import graft.apps.DumpIndex
      DumpIndex.command(s, mergedRepo(s, dir), "tp", Seq("merge"))
        .select(col("docId").as("doc_id"), col("tf"),
          explode(col("positions")).as("p"))
        .select(col("doc_id"), col("tf"), col("p").cast(LongType).as("pos"))
        .orderBy("doc_id", "pos")
    }),

    "q_dumpindex_dn" -> ((s, dir) => {
      // dumpindex `dn` — docno metadata of stored docIds (and the
      // reverse `di` lookup round-trips them, asserted in DumpIndexSpec)
      import graft.apps.DumpIndex
      DumpIndex.command(s, storedRepo(s, dir), "dn",
        (1L to 25L).map(_.toString))
        .select(col("docId").as("doc_id"), col("docno"))
        .orderBy("doc_id")
    }),

    "q_dumpindex_dt" -> ((s, dir) => {
      // dumpindex `dd` — document text + docno from the repository's
      // stored collection (the CompressedCollection analogue; reference:
      // dumpindex.cpp print_document_text / print_document_data)
      import graft.apps.DumpIndex
      DumpIndex.command(s, storedRepo(s, dir), "dd",
        (1L to 6L).map(_.toString))
        .select(col("docId").as("doc_id"), col("docno"), col("text"))
        .orderBy("doc_id")
    }),

    "q_dumpindex_tdv" -> ((s, dir) => {
      // dumpindex `tdv` — the document's stems in position order as one
      // space-joined line, stopped/OOV slots skipped (reference:
      // dumpindex.cpp:368-401 print_text_documentvector)
      import graft.apps.DumpIndex
      DumpIndex.command(s, storedRepo(s, dir), "tdv",
        (1L to 8L).map(_.toString))
        .select(col("docId").as("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    "q_dumpindex_vtl" -> ((s, dir) => {
      // dumpindex `vtl` — consistency audit over the stored repository;
      // a healthy build reports zero violations on every check
      // (reference: dumpindex.cpp:75-107 validate)
      import graft.apps.DumpIndex
      DumpIndex.command(s, storedRepo(s, dir), "vtl", Seq.empty)
        .orderBy("check")
    }),

    "q_runquery_nexi" -> ((s, dir) => {
      // IndriRunQuery with <type>nexi</type>: the CAS query routes
      // through the NEXI grammar and the default (non-TREC) output
      // lines print the scored EXTENTS — score\tdocno\tbegin\tend
      // (reference: IndriRunQuery.cpp:475-480, ScoredExtentResult
      // begin/end; queryType="nexi" in the usage block). Ranks ride
      // the rounded score with (docId, begin) tiebreaks; docno falls
      // back to the docId (no metadata attached).
      import graft.apps.RunQuery
      val xml =
        """<parameters>
          |  <query><number>N1</number><type>nexi</type>
          |    <text>//head[about(., data merge)]</text></query>
          |  <count>1000000</count>
          |  <rule>method:dirichlet</rule>
          |</parameters>""".stripMargin
      val p = RunQuery.parseParams(xml)
      fieldEngine(s, dir) // force the shared field-index build
      val eng = RunQuery.environmentFor(s, fieldIndexCache.get(dir), p, cfg.analyzer)
      val (num, df) = RunQuery.execute(eng, p).head
      RunQuery.trecLines(eng, num,
        df.select(col("docId"), col("begin"), col("end"),
          round(col("score"), 6).as("score")),
        p, fixedPrecision = Some(6))
        .select(col("query_number"), col("rank").cast(LongType).as("rk"),
          col("docId").as("doc_id"), col("line"))
        .orderBy(col("rk"))
    }),

    "q_federated" -> ((s, dir) => {
      // the same flat BM25 bag through a TWO-repository federation
      // (addIndex): global stats sum across members, docIds rebase onto
      // documentBase offsets — must agree with the single-repository
      // oracle bit-for-bit
      val eng = federatedEngine(s, dir)
      eng.runQuery(s"#combine(${BmTerms.mkString(" ")})", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_lm_dirichlet" -> ((s, dir) => {
      // non-baseline #combine = mean of log Dirichlet scores
      // (reference: DirichletTermScoreFunction, WeightedAndNode 1/k)
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runQuery(s"#combine(${BmTerms.mkString(" ")})", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_lm_jm" -> ((s, dir) => {
      val eng = engine(s, dir)
      eng.setScoringRules("method:jm,collectionLambda:0.4")
      eng.runQuery(s"#combine(${BmTerms.mkString(" ")})", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_filreq" -> ((s, dir) => {
      // #filreq(#band(spark table) data): BM25 of `data` restricted to
      // docs containing both filter terms (semi join)
      val eng = engine(s, dir)
      eng.evaluate(QueryParser.parse("#filreq(#band(spark table) data)")).df
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    "q_filrej" -> ((s, dir) => {
      val eng = engine(s, dir)
      eng.evaluate(QueryParser.parse("#filrej(#band(spark table) data)")).df
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    "q_wildcard" -> ((s, dir) => {
      // s* → synonym union of all vocabulary terms with the prefix
      val eng = engine(s, dir)
      eng.evaluateRaw(QueryParser.parse("s*")).df
        .select(col("docId").as("doc_id"), size(col("begins")).cast(LongType).as("tf"))
        .orderBy("doc_id")
    }),

    "q_prior" -> ((s, dir) => {
      // #combine(data #prior(boost)) under Dirichlet: stored log-prior
      // participates as a belief child (PriorNode)
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      val priorTable = documents(s, dir).select(
        col("doc_id").as("docId"),
        log(lit(1.0) / (lit(1.0) + col("doc_id") % 5)).as("logPrior"))
      eng.setPrior("boost", priorTable)
      eng.runQuery("#combine(data #prior(boost))", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_lengthprior" -> ((s, dir) => {
      // score += 0.5·log(doclen) (LengthPriorNode)
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.evaluate(QueryParser.parse("#lengthprior(0.5 data)")).df
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    "q_wsyn_score" -> ((s, dir) => {
      // #wsyn(0.7 sort 0.3 filter): weighted extent union scored as a
      // weighted occurrence count (WeightedExtentOrNode)
      val eng = engine(s, dir)
      eng.evaluate(QueryParser.parse(s"#wsyn(0.7 ${SynPair._1} 0.3 ${SynPair._2})")).df
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    "q_docvector" -> ((s, dir) => {
      // dumpindex `dv` analogue over the forward view
      val eng = engine(s, dir)
      val ids = documents(s, dir).where(col("doc_id") < 30).select(col("doc_id"))
      eng.documentVectors(ids)
        .select(col("docId").as("doc_id"), col("pos").cast(LongType).as("pos"), col("term"))
        .orderBy("doc_id", "pos")
    }),

    "q_bm25_deleted" -> ((s, dir) => {
      // DeletedDocumentList: docs with doc_id % 7 == 0 deleted, then BM25
      val eng = engine(s, dir)
      eng.deleteDocuments(documents(s, dir).where(col("doc_id") % 7 === 0)
        .select(col("doc_id")))
      eng.runQuery(s"#combine(${BmTerms.mkString(" ")})", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_lm_twostage" -> ((s, dir) => {
      // two-stage smoothing: JM over Dirichlet (μ=2500, λ=0.4)
      val eng = engine(s, dir)
      eng.setScoringRules("method:two,mu:2500,lambda:0.4")
      eng.runQuery(s"#combine(${BmTerms.mkString(" ")})", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_wsum" -> ((s, dir) => {
      // #wsum: log of |w|-normalized weighted sum of exp(scores)
      // (reference: src/WeightedSumNode.cpp:67-100)
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.evaluate(QueryParser.parse("#wsum(2 data 1 merge)")).df
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    "q_or" -> ((s, dir) => {
      // #or: log(1 − Π(1 − exp(s))) (reference: src/OrNode.cpp:51-75)
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.evaluate(QueryParser.parse("#or(data merge)")).df
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    "q_max" -> ((s, dir) => {
      // #max of child beliefs (reference: include/indri/MaxNode.hpp)
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.evaluate(QueryParser.parse("#max(data merge)")).df
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    "q_not" -> ((s, dir) => {
      // #not: log(1 − exp(s)) (reference: src/NotNode.cpp:47-60)
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.evaluate(QueryParser.parse("#not(data)")).df
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    "q_topdocs" -> ((s, dir) => {
      // topdocs lists for hot terms: top 1% by tf/len, trigger df>50 here
      // (reference: src/IndexWriter.cpp:530-534,585-608)
      val idx = buildIndex(s, dir)
      IndexBuilder.buildTopdocs(idx.postings,
        cfg.copy(topdocsMinDf = 50L, topdocsFraction = 0.01))
        .select(col("term"), col("docId").as("doc_id"),
          col("tf").cast(LongType).as("tf"), col("length").cast(LongType).as("length"))
        .orderBy("term", "doc_id")
    }),

    "q_rm3_terms" -> ((s, dir) => {
      // RM1 feedback term distribution from the top-10 BM25 docs
      // (RelevanceModel/RMExpander)
      val eng = engine(s, dir)
      graft.search.RelevanceModel.rm1(eng, s"#combine(${BmTerms.mkString(" ")})",
        graft.search.RelevanceModel.Params(fbDocs = 10, fbTerms = 10))
        .select(col("term"), round(col("weight"), 6).as("weight"))
        .orderBy(col("weight").desc, col("term").asc)
    }),

    "q_rmodel_grams" -> ((s, dir) => {
      // rmodel application core: BIGRAM relevance model from the top-10
      // BM25 docs (reference: rmodel/rmodel.cpp, RelevanceModel
      // _countGrams/_scoreGrams maxGrams=2, unsmoothed branch). Order on
      // the rounded weight so cross-engine ULPs can't flip the cut.
      val eng = engine(s, dir)
      graft.search.RelevanceModel.gramModel(eng, s"#combine(${BmTerms.mkString(" ")})",
        graft.search.RelevanceModel.GramParams(documents = 10, maxGrams = 2))
        .select(col("gram"), col("n").cast(LongType).as("n"),
          round(col("weight"), 6).as("weight"))
        .orderBy(col("weight").desc, col("gram").asc)
        .limit(15)
    }),

    "q_clarity_app" -> ((s, dir) => {
      // clarity application surface: SMOOTHED unigram RM (JM λ=0.4 — the
      // reference default once its comma quirk eats "lambda,0.5") over
      // the top-5 docs, per-term clarity contributions in bits
      // (reference: clarity/clarity.cpp printClarity :83-112)
      val eng = engine(s, dir)
      val tt = eng.termCount().toDouble
      val grams = graft.search.RelevanceModel.gramModel(
        eng, s"#combine(${BmTerms.mkString(" ")})",
        graft.search.RelevanceModel.GramParams(documents = 5, maxGrams = 1,
          smoothing = Some(ScoringRule(method = "jm", lambda = 0.4))))
      grams
        .join(buildIndex(s, dir).dictionary.select(col("term").as("gram"),
          col("ctf")), Seq("gram"))
        .select(col("gram").as("term"), round(col("weight"), 6).as("pwq"),
          round(col("weight") * log(col("weight") / (col("ctf") / lit(tt)))
            / lit(math.log(2.0)), 6).as("bits"))
        .orderBy(col("pwq").desc, col("term").asc)
        .limit(10)
    }),

    "q_od1_phrase" -> ((s, dir) => {
      // #od1 ordered-window match counts (reference: OrderedWindowNode)
      val eng = engine(s, dir)
      val raw = eng.evaluateRaw(QueryParser.parse(s"#od1(${OdPair._1} ${OdPair._2})"))
      raw.df.select(col("docId").as("doc_id"), size(col("begins")).cast(LongType).as("tf"))
        .orderBy("doc_id")
    }),

    "q_uw4_match" -> ((s, dir) => {
      // #uw4 unordered-window matching docs (reference: UnorderedWindowNode)
      val eng = engine(s, dir)
      val raw = eng.evaluateRaw(QueryParser.parse(s"#uw4(${UwPair._1} ${UwPair._2})"))
      raw.df.select(col("docId").as("doc_id")).distinct().orderBy("doc_id")
    }),

    "q_band_match" -> ((s, dir) => {
      val eng = engine(s, dir)
      val raw = eng.evaluateRaw(QueryParser.parse(s"#band(${BandTerms.mkString(" ")})"))
      raw.df.select(col("docId").as("doc_id")).orderBy("doc_id")
    }),

    "q_syn_tf" -> ((s, dir) => {
      // synonym union tf (reference: ExtentOrNode)
      val eng = engine(s, dir)
      val raw = eng.evaluateRaw(QueryParser.parse(s"#syn(${SynPair._1} ${SynPair._2})"))
      raw.df.select(col("docId").as("doc_id"), size(col("begins")).cast(LongType).as("tf"))
        .orderBy("doc_id")
    }),

    "q_annotated" -> ((s, dir) => {
      // runAnnotatedQuery: per-node match extents for the result docs
      // (reference: src/QueryEnvironment.cpp:992-1002, src/Annotator.cpp).
      // k covers every candidate so the annotation set is closed-form in
      // SQL (term positions + od1 matches over the candidate union).
      val eng = engine(s, dir)
      val qa = eng.runAnnotatedQuery(s"#combine(data #od1(${OdPair._1} ${OdPair._2}))", 1000000)
      qa.annotations
        .select(col("node"), col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"))
        .orderBy("node", "doc_id", "begin")
    }),

    "q_xcount" -> ((s, dir) => {
      // dumpindex xcount/dxcount analogue for an expression
      val eng = engine(s, dir)
      val x = eng.expressionCount(s"#od1(${OdPair._1} ${OdPair._2})")
      val dx = eng.documentExpressionCount(s"#od1(${OdPair._1} ${OdPair._2})")
      s.createDataFrame(Seq((x, dx))).toDF("xcount", "dxcount")
    }),

    // ---- field / extent operators (SURVEY §2.C raw extent ops) ----
    "q_field_restrict" -> ((s, dir) => {
      // data.head: occurrences of `data` inside the head field [0,10)
      val eng = fieldEngine(s, dir)
      eng.evaluateRaw(QueryParser.parse("data.head")).df
        .select(col("docId").as("doc_id"), size(col("begins")).cast(LongType).as("tf"))
        .orderBy("doc_id")
    }),

    "q_field_list" -> ((s, dir) => {
      // data.head,lead — field-LIST restriction: matches inside the
      // ExtentAnd intersection regions of head [0,10) and lead [0,4),
      // i.e. the nested lead region (reference: indrilang.g:511-527
      // qualifiedTerm field_list; src/ExtentAndNode.cpp:33-74)
      val eng = fieldEngine(s, dir)
      eng.evaluateRaw(QueryParser.parse("data.head,lead")).df
        .select(col("docId").as("doc_id"), size(col("begins")).cast(LongType).as("tf"))
        .orderBy("doc_id")
    }),

    "q_context_restrict" -> ((s, dir) => {
      // data.(head) — CONTEXT restriction: the scoring context becomes
      // the head extents (per-doc length = head length, collection
      // background = data-in-head / total head length); docs with a head
      // but no match score fn(0, ctxLen) (reference: indrilang.g:225-257
      // scoredRaw → RawScorerNode(raw, context_list); builder
      // src/InferenceNetworkBuilder.cpp:744-780; src/ListBeliefNode.cpp:24-56)
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runQuery("data.(head)", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_rule_selectors" -> ((s, dir) => {
      // setScoringRules with a rule LIST: the catch-all rule keeps plain
      // leaves at mu 2500 while field:head retunes the head-context
      // scorer to mu 500 — per-scorer smoothing selection, last match
      // wins (reference: QueryEnvironment::setScoringRules,
      // include/indri/SmoothingAnnotatorWalker.hpp:87-141)
      val eng = fieldEngine(s, dir)
      eng.setScoringRules(Seq(
        "method:dirichlet,mu:2500",
        "field:head,method:dirichlet,mu:500"))
      eng.runQuery("#combine(data.(head) data)", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_weight_extent" -> ((s, dir) => {
      // #weight[head](0.7 data 0.3 merge) — extent restriction on the
      // WEIGHTED combiner: each head extent scores as its own context
      // with |w|-normalized child weights (reference: indrilang.g:269
      // weightedList takes the extentRestriction; ExtentRestrictionNode)
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runExtentQuery("#weight[head](0.7 data 0.3 merge)", 20)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"),
          col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc, col("begin").asc)
    }),

    "q_hyphen_query" -> ((s, dir) => {
      // query-level hyphen compound `hash-scan` ≡ #1(hash scan)
      // (reference: indrilang.g:587-623 hyphenTerm → ODNode window 1)
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runQuery(s"${OdPair._1}-${OdPair._2}", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_base64_quoted" -> ((s, dir) => {
      // quoted + encoded terms (reference: indrilang.g:139-145,967-983;
      // InferenceNetworkBuilder.cpp:110-113): "data" and
      // #base64quote(ZGF0YQ==) look the posting key up VERBATIM,
      // #base64(RGFUYQ==) decodes to DaTa then runs the full
      // processTerm chain → data, while quoted "DaTa" skips
      // normalization → zero-ctf leaf at the 1/(2·|C|) background
      // (TermScoreFunctionFactory.cpp:50-53)
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runQuery("#combine(\"data\" #base64quote(ZGF0YQ==) #base64(RGFUYQ==) \"DaTa\")", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_twostage_window" -> ((s, dir) => {
      // two-stage smoothing over a window leaf exercises the reference's
      // 4-arg list-belief score form: the inner Dirichlet prior comes
      // from the DOCUMENT's own frequency, not the collection
      // (reference: include/indri/TwoStageTermScoreFunction.hpp:60-65,
      // src/ListBeliefNode.cpp:119-127) — and the uw8 counts apply the
      // greedy non-overlap occurrence scan
      val eng = engine(s, dir)
      eng.setScoringRules("method:two,mu:2500,lambda:0.4")
      eng.runQuery("#combine(#uw8(data merge) query)", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_jm_doclambda" -> ((s, dir) => {
      // documentLambda-JM over a window: the 4-arg form mixes the
      // context, document and collection components with
      // contextLambda = 1 − λc − λd (reference:
      // include/indri/JelinekMercerTermScoreFunction.hpp:67-71)
      val eng = engine(s, dir)
      eng.setScoringRules("method:jm,collectionLambda:0.3,documentLambda:0.2")
      eng.runQuery("#uw8(data merge)", 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_reformulate_app" -> ((s, dir) => {
      // the reformulate application surface (reference:
      // reformulate/ReformulateQuery.cpp): one parameter file driven
      // through all four generators; rows = (mode, number, text) with
      // the emitted query text byte-pinned (newlines marked <NL>)
      import graft.apps.ReformulateApp
      val xml =
        """<parameters>
          |<query><number>n1</number><text>What is the data merge</text></query>
          |<query>the of a</query>
          |</parameters>""".stripMargin
      def rows(mode: String, overlays: Seq[String]): Seq[(String, String, String)] = {
        val (_, body) = ReformulateApp.run(xml, overlays)
        val R = "(?s)<query><number>(.*?)</number>\\n<text>(.*?)</text>\\n</query>".r
        R.findAllMatchIn(body)
          .map(m => (mode, m.group(1), m.group(2).replace("\n", "<NL>"))).toSeq
      }
      val all = rows("combine", Nil) ++
        rows("sdm", Seq("-genSDM=true")) ++
        rows("fdmf", Seq("-genFDM=true", "-queryField.name=title", "-queryField.weight=2")) ++
        rows("cmu", Seq("-genCMUFDM=true", "-weightTitle=3.5"))
      import s.implicits._
      all.toDF("mode", "number", "text").orderBy("mode", "number")
    }),

    "q_any_field" -> ((s, dir) => {
      // #any:head extent dump (FieldIteratorNode analogue)
      val eng = fieldEngine(s, dir)
      eng.evaluateRaw(QueryParser.parse("#any:head")).df
        .select(col("docId").as("doc_id"),
          element_at(col("begins"), 1).cast(LongType).as("begin"),
          element_at(col("ends"), 1).cast(LongType).as("end"))
        .where(col("end") > col("begin")) // drop degenerate extents of empty docs
        .orderBy("doc_id")
    }),

    "q_num_between" -> ((s, dir) => {
      // #between(nchars 500 1000): inclusive numeric field predicate
      val eng = fieldEngine(s, dir)
      eng.evaluateRaw(QueryParser.parse("#between(nchars 500 1000)")).df
        .select(col("docId").as("doc_id")).orderBy("doc_id")
    }),

    "q_path_child" -> ((s, dir) => {
      // #child(kick lead): kick extents whose DIRECT parent is a lead
      // extent — only the doc_id % 3 == 0 docs link kick under lead
      // (reference: src/ExtentChildNode.cpp over index parent links)
      val eng = deepFieldEngine(s, dir)
      eng.evaluateRaw(QueryParser.parse("#child(kick lead)")).df
        .select(col("docId").as("doc_id"),
          element_at(col("begins"), 1).cast(LongType).as("begin"),
          element_at(col("ends"), 1).cast(LongType).as("end"))
        .where(col("end") > col("begin"))
        .orderBy("doc_id")
    }),

    "q_path_parent" -> ((s, dir) => {
      // #parent(lead kick): lead extents that are the direct parent of a
      // kick extent (reference: src/ExtentParentNode.cpp) — again only
      // the doc_id % 3 == 0 docs
      val eng = deepFieldEngine(s, dir)
      eng.evaluateRaw(QueryParser.parse("#parent(lead kick)")).df
        .select(col("docId").as("doc_id"),
          element_at(col("begins"), 1).cast(LongType).as("begin"),
          element_at(col("ends"), 1).cast(LongType).as("end"))
        .where(col("end") > col("begin"))
        .orderBy("doc_id")
    }),

    "q_path_desc" -> ((s, dir) => {
      // #descendant(kick head): kick extents with head ANYWHERE up the
      // parent chain — reaches head via lead (doc_id%3==0) or directly
      // (doc_id%3==1); absent for doc_id%3==2
      // (reference: src/ExtentDescendantNode.cpp)
      val eng = deepFieldEngine(s, dir)
      eng.evaluateRaw(QueryParser.parse("#descendant(kick head)")).df
        .select(col("docId").as("doc_id"),
          element_at(col("begins"), 1).cast(LongType).as("begin"),
          element_at(col("ends"), 1).cast(LongType).as("end"))
        .where(col("end") > col("begin"))
        .orderBy("doc_id")
    }),

    "q_date_ops" -> ((s, dir) => {
      // #datebefore/#datebetween/#dateafter — both the (field, literal)
      // extension form over mdate AND the reference's bare-literal forms
      // over the hardwired "date" field (days-since-1600 payloads;
      // reference: src/indrilang.g:840-935 dateBefore → FieldLessNode(
      // Field("date"), d), DateParse.hpp convertDate,
      // DateFieldAnnotator.hpp format table). mdate = 2020-01-01 +
      // doc_id % 400 days, so membership is pure doc_id arithmetic for
      // the oracle; the ref_* arms repeat the same bounds as MM/DD/YYYY
      // slash dates and "Month DD YYYY" space dates.
      val eng = deepFieldEngine(s, dir)
      def dump(q: String, op: String) =
        eng.evaluateRaw(QueryParser.parse(q)).df
          .select(lit(op).as("op"), col("docId").as("doc_id"))
      dump("#datebefore(mdate 2020-02-01)", "before")
        .unionAll(dump("#datebetween(mdate 2020-02-01 2020-06-01)", "between"))
        .unionAll(dump("#dateafter(mdate 2020-06-01)", "after"))
        .unionAll(dump("#datebefore(02/01/2020)", "ref_before"))
        .unionAll(dump("#datebetween(February 1 2020 1 june 2020)", "ref_between"))
        .unionAll(dump("#dateafter(1-JUN-2020)", "ref_after"))
        .orderBy("op", "doc_id")
    }),

    "q_passage" -> ((s, dir) => {
      // #combine[passage10:5](data merge): every sliding passage scored
      // as its own dirichlet context (reference: FixedPassageNode,
      // src/InferenceNetworkBuilder.cpp:152-185); k covers all passages
      // so (doc, begin) ordering is boundary-free for the oracle
      val eng = new Engine(s, buildIndex(s, dir), cfg.analyzer,
        ScoringRule(method = "dirichlet"))
      eng.runExtentQuery(s"#combine[passage10:5](${BmTerms.take(2).mkString(" ")})", 1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_porter" -> ((s, dir) => {
      // Porter stemmer surface vs 36k reference-generated golden vectors
      // (reference: src/Porter_Stemmer.cpp compiled standalone → TSV)
      val stemUdf = udf { (w: String) => graft.analysis.PorterStemmer.stem(w) }
      goldenWords(s, "porter_golden.tsv")
        .select(col("word"), stemUdf(col("word")).as("stem"))
        .orderBy("word")
    }),

    "q_krovetz" -> ((s, dir) => {
      // Krovetz kstem surface vs the reference-generated golden vectors
      // (reference: src/KrovetzStemmer.cpp compiled standalone → TSV)
      val stemUdf = udf { (w: String) => graft.analysis.KrovetzStemmer.stem(w) }
      goldenWords(s, "kstem_golden.tsv")
        .select(col("word"), stemUdf(col("word")).as("stem"))
        .orderBy("word")
    }),

    "q_arabic" -> ((s, dir) => {
      // Arabic light10 stemmer surface vs 20k reference-generated golden
      // vectors (reference: src/Arabic_Stemmer_utf8.cpp arabic_light10
      // compiled standalone → TSV). Words of only dropped chars stem to
      // the empty string — surfaced as NULL to match csv null parsing
      // on both engines.
      val stemUdf = udf { (w: String) =>
        val s0 = graft.analysis.ArabicStemmer.stem(w)
        if (s0.isEmpty) null else s0
      }
      goldenWords(s, "arabic_light10_golden.tsv")
        .select(col("word"), stemUdf(col("word")).as("stem"))
        .orderBy("word")
    }),

    "q_utf8_case" -> ((s, dir) => {
      // UTF8 case-normalization chain (strip ./' + ASCII downcase + the
      // reference's 893-pair codepoint table) vs golden vectors from the
      // COMPILED reference transform (reference:
      // src/UTF8CaseNormalizationTransformation.cpp; generator
      // tools/gen_utf8_case_golden.py). Terms normalizing to empty
      // ("...") come back NULL — matching csv null parsing on both sides.
      val normUdf = udf { (w: String) => graft.analysis.Normalizer.normalize(w) }
      goldenWords(s, "utf8_case_golden.tsv")
        .select(col("word"), normUdf(col("word")).as("norm"))
        .orderBy("word")
    }),

    "q_working_set" -> ((s, dir) => {
      // runQuery against a working set: FilterNode semantics — score only
      // docs in the supplied docId set (reference:
      // src/QueryEnvironment.cpp:694-707 _scoredQuery + FilterNode)
      val eng = engine(s, dir)
      val ws = documents(s, dir).where(col("doc_id") % 7 === 0).select("doc_id")
      eng.runQuery(s"#combine(${BmTerms.mkString(" ")})", 20, ws)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_extent_list" -> ((s, dir) => {
      // dumpindex expressionlist: every matching extent of an expression
      // (reference: dumpindex/dumpindex.cpp:25-53)
      val eng = engine(s, dir)
      eng.expressionList(s"#od1(${OdPair._1} ${OdPair._2})")
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"),
          col("end").cast(LongType).as("end"))
        .orderBy("doc_id", "begin")
    }),

    "q_ponte_terms" -> ((s, dir) => {
      // Ponte expander term table over the okapi top-10 feedback docs
      // (reference: src/PonteExpander.cpp:80-143); fbTerms covers every
      // tf>=2 term so the cut is boundary-free
      val eng = engine(s, dir)
      val top = eng.runQuery(s"#combine(${BmTerms.mkString(" ")})", 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      graft.search.Expanders.ponteTerms(eng, top,
        graft.search.RelevanceModel.Params(fbDocs = 10, fbTerms = 1000000))
        .select(col("term"), round(col("coll"), 6).as("coll"),
          round(col("weight"), 6).as("weight"))
        .orderBy("term")
    }),

    "q_tfidf_terms" -> ((s, dir) => {
      // TFIDF expander term table over the same feedback docs
      // (reference: src/TFIDFExpander.cpp:100-241)
      val eng = engine(s, dir)
      val top = eng.runQuery(s"#combine(${BmTerms.mkString(" ")})", 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      graft.search.Expanders.tfidfTerms(eng, top,
        graft.search.RelevanceModel.Params(fbDocs = 10, fbTerms = 1000000))
        .select(col("term"), round(col("weight"), 6).as("weight"))
        .orderBy("term")
    }),

    "q_rewrite_fields" -> ((s, dir) => {
      // modifyfields offline surgery on a WRITTEN store: drop `lead`,
      // add a `note` offset annotation [1,3) for doc_id % 5 == 0, reopen
      // and dump the surviving field surface (reference:
      // modifyfields/ModifyFields.cpp). The store build+surgery is
      // cached per dir; the query itself re-opens and dumps.
      val tmp = rewrittenStoreCache.computeIfAbsent(dir, _ => {
        val t = java.nio.file.Files.createTempDirectory("graft-rewrite-drv").toString
        val docs = documents(s, dir)
          .select(col("doc_id").as("docId"), col("text").as("content"))
        val idx = IndexBuilder.build(docs, cfg,
          annotate = df => FieldAnnotators.nestedHeadField(4)(
            FieldAnnotators.headField(10)(df)))
        graft.index.SegmentStore.writeAll(idx, t, cfg)
        val notes = documents(s, dir).where(col("doc_id") % 5 === 0)
          .select(col("doc_id").as("docId"), lit("note").as("field"),
            lit(1).as("begin"), lit(3).as("end"))
        graft.index.SegmentStore.rewriteFields(s, t, remove = Seq("lead"), add = notes)
        t
      })
      graft.index.SegmentStore.open(s, tmp).fieldExtents
        .select(col("docId").as("doc_id"), col("field"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"))
        .orderBy("doc_id", "field", "begin")
    }),

    "q_shrinkage" -> ((s, dir) => {
      // ShrinkageBeliefNode default configuration over the (root-level)
      // head field: down = (1-w_d)·MLE(extent) + w_d·p_jm(doc), then
      // p = (1-λ)·down + λ·cf — closed-form in SQL
      val eng = fieldEngine(s, dir)
      eng.runShrinkageQuery("head", BmTerms.take(2), 1000000,
        parentWeight = 0.2, docWeight = 0.2, lambda = 0.4)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_shrinkage_rules" -> ((s, dir) => {
      // per-field rule strings + recursive smoothing over the two-level
      // head ⊃ lead tree (reference: ShrinkageBeliefNode::addShrinkageRule
      // + the recursive up/down passes): the lead extents are scored with
      // up[head] absorbing the lead rule (weight 0.3, absolute) and
      // down[lead] mixing the RECURSIVE down[head]
      val eng = fieldEngine(s, dir)
      eng.runShrinkageQuery("lead", BmTerms.take(2), 1000000,
        parentWeight = 0.2, docWeight = 0.2, lambda = 0.4,
        rules = Seq("recursive:true", "field:lead,weight:0.3,length:false"))
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi" -> ((s, dir) => {
      // NEXI CAS: //head[about(., data merge)] — every head extent
      // scored as its own dirichlet context (reference: nexilang.g CAS
      // path → ExtentRestriction); k covers all candidates so ordering
      // by (doc, begin) is boundary-free for the oracle
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi(s"//head[about(., ${BmTerms.take(2).mkString(" ")})]", 1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_inex" -> ((s, dir) => {
      // the INEX submission surface end-to-end: NEXI-scored lead extents
      // → pathNames (deepest containing field chain /head[1]/lead[1]) →
      // <result> file/path/rsv blocks (reference: IndriRunQuery.cpp:
      // 468-474, QueryEnvironment::pathNames, DocumentStructure::path)
      import graft.apps.RunQuery
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      val res = eng.runNexi("//lead[about(., data)]", 1000000)
        .select(col("docId"), col("begin"), col("end"),
          round(col("score"), 6).as("score"))
      val p = RunQuery.Params(indexPaths = Seq("unused"), runID = "graft",
        inex = true)
      RunQuery.inexLines(eng, "T1", res, p, fixedPrecision = Some(6))
        .select(col("rank").cast(LongType).as("rk"),
          col("docId").as("doc_id"), col("line"))
        .orderBy("rk")
    }),

    "q_nexi_ws" -> ((s, dir) => {
      // NEXI with a working set (the reference FilterNode,
      // QueryEnvironment.cpp:694-707): CAS target extents restrict to
      // the named documents BEFORE scoring — the oracle is q_nexi's SQL
      // filtered to doc_id <= 120
      import s.implicits._
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi(s"//head[about(., ${BmTerms.take(2).mkString(" ")})]", 1000000,
          Some((0L to 120L).toDF("docId")))
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_num" -> ((s, dir) => {
      // numeric predicate clause //head[about(., data) and .//nchars < 300]:
      // the nchars whole-doc extent counts as an occurrence inside a head
      // extent only when contained (doclen ≤ 10) AND matching (< 300);
      // its belief folds with the about via combine 1/k
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi("//head[about(., data) and .//nchars < 300]", 1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_phrase" -> ((s, dir) => {
      // phrase leaf //head[about(., "data merge" window)]: the quoted
      // phrase is an exact-adjacency ODNode scored as an occurrence
      // belief in the head context with the WINDOW's collection stats
      // (nexilang.g:456-480 DBL_QUOTE odNode → NestedRawScorerNode);
      // folds with the plain term at 1/2 weights
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi("//head[about(., \"data merge\" window)]", 1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_not" -> ((s, dir) => {
      // negated leaf //head[about(., data -slow)]: the `-` term wraps
      // in a NotNode — belief ln(1 − exp(s_slow)) — and folds with the
      // positive term at 1/2 weights (nexilang.g:439-454 MINUS branch;
      // src/NotNode.cpp:53)
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi("//head[about(., data -slow)]", 1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_rel" -> ((s, dir) => {
      // relative about //head[about(.//lead, query)]: each head extent
      // takes the MAX over its nested lead extents of the lead-context
      // belief (MaxNode over ExtentRestriction, nexilang.g:370-390)
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi(s"//head[about(.//lead, ${BmTerms(2)})]", 1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_rel_bool" -> ((s, dir) => {
      // boolean clause with a relative filter (round 4):
      // //head[about(.//lead, query) and about(., data)] — the lead
      // MaxNode belief (one lead extent per doc, always inside head)
      // folds 1/2 + 1/2 with the head-context about belief
      // (nexilang.g:312-334 clause := filter (logical filter)? with the
      // :370-390 aboutClause path branch as a filter)
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi("//head[about(.//lead, query) and about(., data)]", 1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_mixed" -> ((s, dir) => {
      // relative about + numeric predicate in ONE boolean clause
      // (round 4): //head[about(.//lead, query) and .//nchars < 300] —
      // the lead MaxNode belief folds 1/2 + 1/2 with the contained-
      // matching-extent occurrence belief (nexilang.g:312-334 filter
      // kinds mix freely; :370-390 aboutClause path branch;
      // :395-440 arithmeticClause)
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi("//head[about(.//lead, query) and .//nchars < 300]", 1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_tree" -> ((s, dir) => {
      // mixed leaf kinds inside parenthesized nesting (round 4 —
      // nexilang.g:312-363 filter := about | arithmetic | '(' clause ')'
      // with no leaf-kind restriction): //head[(about(.//lead, query)
      // or .//nchars < 300) and about(., data)] — the relative-about
      // MaxNode and the numeric occurrence belief fold through OrNode,
      // then halve with the plain about belief (CombineNode)
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi("//head[(about(.//lead, query) or .//nchars < 300) and about(., data)]",
          1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_nested" -> ((s, dir) => {
      // two-level CAS //head[about(., data merge)]//lead[about(., query)]:
      // each lead extent nested in a head extent scores
      // clause1-over-head + clause2-over-lead (ContextInclusion +
      // ExtentEnforcement, nexilang.g:180-206)
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi(s"//head[about(., ${BmTerms.take(2).mkString(" ")})]//lead[about(., ${BmTerms(2)})]",
          1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_nested_mixed" -> ((s, dir) => {
      // general two-level CAS (round 4 — the grammar reuses the
      // unrestricted clause rule in the second bracket,
      // nexilang.g:180-206): //head[about(., data) and .//nchars <
      // 300]//lead[about(., query)] — the first level mixes a plain
      // about with a numeric predicate, each lead extent nested in a
      // head extent adds its own about belief on top
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi("//head[about(., data) and .//nchars < 300]//lead[about(., query)]",
          1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_paren" -> ((s, dir) => {
      // parenthesized clause nesting (filterParens, nexilang.g:312-363):
      // //head[(about(., data) or about(., merge)) and about(., query)]
      // — the or-node folds first, then halves with the third belief
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi(s"//head[(about(., ${BmTerms(0)}) or about(., ${BmTerms(1)})) and about(., ${BmTerms(2)})]",
          1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_deep" -> ((s, dir) => {
      // three-level CAS path //head//lead//kick[about(., data)]: kick
      // extents whose ancestor chain passes lead THEN head — matches
      // only the doc_id%3==0 docs (kick→lead→head); the %3==1 docs'
      // kick→head chain skips lead and must NOT match
      // (chained NestedExtentInside, nexilang.g:251-270)
      val eng = deepFieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi(s"//head//lead//kick[about(., ${BmTerms(0)})]", 1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_bool" -> ((s, dir) => {
      // NEXI boolean clause: //head[about(., data merge) and about(., query)]
      // — the grammar's single logical combination; `and` folds the two
      // about beliefs with CombineNode 1/k weights inside each extent
      // (reference: nexilang.g:312-334)
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi(s"//head[about(., ${BmTerms.take(2).mkString(" ")}) and about(., ${BmTerms(2)})]",
          1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    "q_nexi_or" -> ((s, dir) => {
      // same clauses with `or` → OrNode fold log(1 − Π(1 − exp(s_g)))
      val eng = fieldEngine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runNexi(s"//head[about(., ${BmTerms.take(2).mkString(" ")}) or about(., ${BmTerms(2)})]",
          1000000)
        .select(col("docId").as("doc_id"),
          col("begin").cast(LongType).as("begin"), col("end").cast(LongType).as("end"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "begin")
    }),

    // ---- streaming / incremental (SURVEY §2.I) ----
    "q_incremental_build" -> ((s, dir) => {
      // three foreachBatch-style generations == one batch build: the
      // dictionary over the union view must equal q_dictionary's oracle
      import graft.streaming.IncrementalIndexer
      val tmp = java.nio.file.Files.createTempDirectory("graft-inc").toString
      val docs = corpusDocs(s, dir)
      IncrementalIndexer.appendBatch(docs.where(col("docId") % 3 === 0), 0L, tmp, cfg)
      IncrementalIndexer.appendBatch(docs.where(col("docId") % 3 === 1), 1L, tmp, cfg)
      IncrementalIndexer.appendBatch(docs.where(col("docId") % 3 === 2), 2L, tmp, cfg)
      IncrementalIndexer.compact(s, tmp, cfg)
      IncrementalIndexer.open(s, tmp, cfg).dictionary
        .select(col("term"), col("df"), col("ctf"),
          col("maxDocLen").cast(LongType).as("max_dl"),
          col("minDocLen").cast(LongType).as("min_dl"))
        .orderBy("term")
    }),

    "q_kba_filter" -> ((s, dir) => {
      // KBA standing-query stream filter (kba/BM25Scorer.cc semantics)
      import graft.streaming.StreamFilter
      val idx = buildIndex(s, dir)
      val queries = Seq(
        StreamFilter.StandingQuery("e1", "data merge"),
        StreamFilter.StandingQuery("e2", "query join"))
      // collect df for the standing-query terms ONLY (a dozen rows) —
      // never the whole vocabulary, which is billions of terms at scale
      val qTerms = queries.flatMap(_.text.split("\\s+"))
        .flatMap(t => Option(cfg.analyzer.processTerm(t))).distinct
      val termDf = idx.dictionary.where(col("term").isin(qTerms: _*))
        .select("term", "df").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      StreamFilter.score(corpusDocs(s, dir), queries, idx.stats, termDf,
        cfg.analyzer, cutoff = Double.NegativeInfinity)
        .select(col("docId").as("doc_id"), col("qid"), round(col("score"), 6).as("score"))
        .orderBy("doc_id", "qid")
    }),

    "q_kba_stream_scores" -> ((s, dir) => {
      // the KBA fork's five-model stream scoring pass
      // (kba/StreamThread.cc:220-240): BM25/BM25Ext/LanguageModel/
      // LanguageModelExt/KLDivergence per (candidate doc × entity).
      // Title tokens keep 1-char words and stopwords (no filter);
      // body tokens need length > 2 and pass the stop set.
      import graft.streaming.KbaScorers
      val docs = documents(s, dir).select(col("doc_id"),
        concat(lit("a "), col("lang"), lit(" kba doc")).as("title"),
        col("text").as("body"))
      val entities = Seq(
        KbaScorers.KbaEntity("e1", Seq("data", "merge"),
          Seq("data", "merge", "query", "join")),
        KbaScorers.KbaEntity("e2", Seq("query", "join"), Nil))
      KbaScorers.scoreStreams(docs, entities, stopwords = Set("the", "a"),
          idCol = "doc_id", titleCol = "title", bodyCol = "body")
        .select(col("docId").as("doc_id"), col("entity"), col("model"),
          round(col("score"), 6).as("score"), col("scoreInt").cast(LongType).as("score_int"))
        .orderBy("doc_id", "entity", "model")
    }),

    "q_kba_pool" -> ((s, dir) => {
      // ResultPool retention (top-100 per entity×model above the
      // initScore cutoff, kba/ResultPool.hpp:53-80) + publishResult
      // dump lines (StreamThread.cc:180-184). Int scores make the
      // retention cross-engine exact — no rounding boundary.
      import graft.streaming.KbaScorers
      val docs = documents(s, dir).select(col("doc_id"),
        concat(lit("a "), col("lang"), lit(" kba doc")).as("title"),
        col("text").as("body"))
      val entities = Seq(
        KbaScorers.KbaEntity("e1", Seq("data", "merge"),
          Seq("data", "merge", "query", "join")),
        KbaScorers.KbaEntity("e2", Seq("query", "join"), Nil))
      val scored = KbaScorers.scoreStreams(docs, entities,
        stopwords = Set("the", "a"), idCol = "doc_id",
        titleCol = "title", bodyCol = "body")
      KbaScorers.publishLines(KbaScorers.retainTop(scored, poolSz = 100),
          dayDt = "day1", idCol = concat(lit("d"), col("docId").cast("string")))
        .select(col("entity"), col("model"), col("rk").cast(LongType).as("rk"), col("line"))
        .orderBy("entity", "model", "rk")
    }),

    "q_kba_lm_psg" -> ((s, dir) => {
      // FilterThread's LM-passage rerank (kba/FilterThread.cc:173-230):
      // indri dirichlet retrieval, then each doc rescored as one
      // whole-document passage by LanguageModelPsg — whose constructor
      // IGNORES its mu argument (always 2500, LanguageModelPsg.cc:8)
      import graft.streaming.KbaScorers
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      KbaScorers.lmPassageRerank(eng,
          Seq(("e1", "data merge"), ("e2", "query join")), requested = 10000)
        .select(col("docId").as("doc_id"), col("qid"),
          round(col("psgScore"), 6).as("psg_score"),
          round(col("indriScore"), 6).as("indri_score"))
        .orderBy("qid", "doc_id")
    }),

    "q_webtrack_psg" -> ((s, dir) => {
      // webtrack clue.cc max-passage rerank: chunked passages (40-token
      // chunks, 10-token carried window at this fixture scale), best
      // chunk per document, ranked per query. k covers every candidate
      // so the oracle's candidate set is cut-free; ranks are computed
      // on the 6dp-rounded score on BOTH engines.
      import graft.search.WebTrackRerank
      import org.apache.spark.sql.expressions.Window
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      val out = WebTrackRerank.maxPassageRerank(eng, corpusDocs(s, dir),
        Seq(("e1", "data merge"), ("e2", "query join")),
        stopwords = Set("the", "a"), k = 10000, passageSz = 40, windowSz = 10)
      val rounded = out.select(col("docId").as("doc_id"), col("qid"),
        round(col("score"), 6).as("score"))
      rounded
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("score").desc, col("doc_id").asc)).cast(LongType))
        .orderBy("qid", "doc_id")
    }),

    "q_webtrack_maxpsg_dv" -> ((s, dir) => {
      // IndriRunQuery postProcess (PassageModel::maxPsgScoring): same
      // chunked max-passage LM, but passages come from DOCUMENT VECTORS
      // (the engine stem space) and replace the retrieval scores
      import graft.search.WebTrackRerank
      import org.apache.spark.sql.expressions.Window
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      val out = WebTrackRerank.maxPsgScoringDV(eng,
        Seq(("e1", "data merge"), ("e2", "query join")),
        k = 10000, passageSz = 40, windowSz = 10)
      val rounded = out.select(col("docId").as("doc_id"), col("qid"),
        round(col("score"), 6).as("score"))
      rounded
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("score").desc, col("doc_id").asc)).cast(LongType))
        .orderBy("qid", "doc_id")
    }),

    "q_webtrack_dump" -> ((s, dir) => {
      // clue.cc dumpResult's run-file lines over the doc-vector
      // max-passage rerank: `tpcNum Q0 docId  rank score runTag` with
      // the reference's double space after the doc id and C++
      // default-ostream %g score text — DuckDB's printf('%g') matches
      // the g++-pinned cppDouble byte-for-byte on the 6dp-rounded
      // score both engines rank on
      import graft.search.WebTrackRerank
      import org.apache.spark.sql.expressions.Window
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      val out = WebTrackRerank.maxPsgScoringDV(eng,
        Seq(("e1", "data merge"), ("e2", "query join")),
        k = 10000, passageSz = 40, windowSz = 10)
      val ranked = out
        .select(col("docId"), col("qid"), round(col("score"), 6).as("score"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("score").desc, col("docId").asc)))
      WebTrackRerank.dumpLines(ranked, runTag = "test",
          idCol = concat(lit("d"), col("docId").cast("string")))
        .select(col("qid"), col("rank").cast(LongType).as("rank"), col("line"))
        .orderBy("qid", "rank")
    }),

    "q_kba_dump" -> ((s, dir) => {
      // FilterThread::dumpKbaResult's priority-queue dump over the LM
      // passage rerank: top-100 per query by INT psg score, line =
      // `udel <runId> <id> <qid> 1000 2 1 <dayDt> NULL -1 0-0  <psg> <indri>`
      // (the double space before the scores is the reference ostream
      // byte sequence; int scores make the retention cross-engine exact)
      import graft.streaming.KbaScorers
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      val out = KbaScorers.lmPassageRerank(eng,
          Seq(("e1", "data merge"), ("e2", "query join")), requested = 10000)
        // 6dp-round before the int truncation: cross-engine the rounded
        // doubles are bit-identical (q_kba_lm_psg), so trunc can't flip
        // on a score sitting within a ULP of an integer
        .withColumn("psgScore", round(col("psgScore"), 6))
        .withColumn("indriScore", round(col("indriScore"), 6))
      KbaScorers.filterDumpLines(out, runId = "run7", dayDt = "2012-05-05",
          idCol = concat(lit("d"), col("docId").cast("string")))
        .select(col("qid"), col("rk").cast(LongType).as("rk"), col("line"))
        .orderBy("qid", "rk")
    }),

    "q_kba_daystat" -> ((s, dir) => {
      // the KbaProcessing main's LIVE day loop (processFilterThread →
      // dumpDayStat, kba/KbaProcessing.cc:505-551): a 5-day index window
      // slides over the sorted days; each later day appends
      // `<dir>,past-5-day,<termCount/docCount>` with UNSIGNED-LONG
      // division (whole number in %g text). Days here: a deterministic
      // 9-way split of the corpus by doc_id; per-day termCount = sum of
      // analyzer doclens (Engine.termCount semantics — the same stats a
      // per-day index federation would report)
      import graft.streaming.KbaScorers
      val perDay = buildIndex(s, dir).doclens
        .select(concat(lit("2012-10-"),
            lpad(((col("docId") % 9) + 1).cast("string"), 2, "0")).as("day"),
          col("length"))
        .groupBy("day")
        .agg(sum(col("length")).as("term_count"), count(lit(1)).as("doc_count"))
      KbaScorers.dayStatLines(perDay, dirPrefix = "/idx/")
        .orderBy("day")
    }),

    "q_kba_recall" -> ((s, dir) => {
      // HighRecallInfo's judgement pass (kba/KbaProcessing.cc:81-102,
      // live under --trng): keep rows with score column > 300, split the
      // stream id `epoch-docid` at its first '-'; the BerkeleyDB write is
      // storage plumbing — these rows are the stored records. Judgement
      // lines are rebuilt with pure column expressions so DuckDB derives
      // the expected output from the same arithmetic.
      import graft.streaming.KbaScorers
      val lines = documents(s, dir).select(concat_ws(" ",
        lit("anno"), lit("run1"),
        concat((col("doc_id") * 1000 + 1325376000L).cast("string"),
          lit("-doc"), col("doc_id").cast("string")),
        col("lang"),
        ((col("doc_id") * 37) % 1000).cast("string"),
        lit("1"), lit("0"),
        concat(lit("2012-10-"),
          lpad(((col("doc_id") % 9) + 1).cast("string"), 2, "0"))).as("line"))
      KbaScorers.highRecallRows(lines)
        .select(col("s_time"), col("doc_id"), col("directory"))
        .orderBy("s_time")
    }),

    // ---- dedup suite ----
    "q_dedup_exact" -> ((s, dir) =>
      TextPipeline.exactDedup(documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("keeper"), col("is_dup").cast(LongType).as("is_dup"))
        .orderBy("doc_id")),

    "q_stream_dedup" -> ((s, dir) => {
      // the stateful streaming dedup transform on a static frame (one
      // batch): keeper/isDup must equal the batch exactDedup semantics
      import graft.streaming.StreamDedup
      StreamDedup.dedupStream(documents(s, dir), idCol = "doc_id", contentCol = "text")
        .toDF()
        .select(col("docId").as("doc_id"), col("keeper"),
          col("isDup").cast(LongType).as("is_dup"))
        .orderBy("doc_id")
    }),

    "q_minhash" -> ((s, dir) =>
      TextPipeline.minhash(documents(s, dir), "doc_id", "text", numHashes = 4)
        .orderBy("doc_id")),

    "q_lsh_pairs" -> ((s, dir) =>
      TextPipeline.minhashLshPairs(documents(s, dir), "doc_id", "text",
        numHashes = 4, bands = 2)
        .orderBy("a", "b")),

    "q_dedup_clusters" -> ((s, dir) =>
      // transitive closure of the LSH candidate pairs (same 4×2 banding
      // as q_lsh_pairs) → canonical keeper per near-dup cluster
      TextPipeline.dedupClusters(documents(s, dir), "doc_id", "text",
        numHashes = 4, bands = 2)
        .select(col("doc_id"), col("keeper"),
          col("is_dup").cast(LongType).as("is_dup"))
        .orderBy("doc_id")),

    "q_stream_neardup" -> ((s, dir) => {
      // stateful LSH bucket-claim dedup on a static frame (one batch):
      // keeper/isDup must equal the batch window semantics — min doc_id
      // over each of the doc's band buckets — which the oracle computes
      import graft.streaming.StreamNearDedup
      StreamNearDedup.neardupStream(documents(s, dir), "doc_id", "text",
        numHashes = 4, bands = 2)
        .select(col("docId").as("doc_id"), col("keeper"),
          col("isDup").cast(LongType).as("is_dup"))
        .orderBy("doc_id")
    }),

    "q_repeated_spans" -> ((s, dir) =>
      TextPipeline.repeatedSpans(documents(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id")),

    "q_remove_spans" -> ((s, dir) =>
      // the ACTION half of Lee-et-al substring dedup: every repeated
      // 8-gram occurrence cut except the globally first (keep-one-copy),
      // kept tokens rejoined — the full cleaned-text surface is oracled
      TextPipeline.removeRepeatedSpans(documents(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id")),

    "q_ngram_jaccard" -> ((s, dir) => {
      // candidates from the PRODUCTION LSH path (same 4×2 banding as
      // q_lsh_pairs) — exact n-gram Jaccard verifies each LSH candidate
      // pair, exercising the minhash → LSH-bucket-join → exact-verify
      // pretraining dedup pipeline end-to-end (no crossJoin anywhere)
      val docs = documents(s, dir)
      val cands = TextPipeline.minhashLshPairs(docs, "doc_id", "text",
        numHashes = 4, bands = 2)
      TextPipeline.ngramJaccard(docs, cands, "doc_id", "text")
        .where(col("jaccard") > 0)
        .orderBy("a", "b")
    }),

    "q_simhash16" -> ((s, dir) =>
      TextPipeline.simhash(documents(s, dir), "doc_id", "text", bits = 16)
        .orderBy("doc_id")),

    // ---- similarity search ----
    "q_ann_brute" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
        .select(col("qid"), col("nid"), col("sim"), col("rk").cast(LongType).as("rk"))
        .orderBy("qid", "rk")
    }),

    "q_ann_int8" -> ((s, dir) => {
      // int8-quantized brute-force cosine: the memory-bound scale path
      // (4× smaller vectors, exact integer dot products — the quantized
      // cosines are bit-identical across engines because every partial
      // sum is an exact integer in double range)
      val emb = embeddings(s, dir)
      val qz = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      Similarity.int8BruteForceTopK(qz.where(col("vec_id") < 10), qz, "vec_id", 5)
        .select(col("qid"), col("nid"), col("sim"), col("rk").cast(LongType).as("rk"))
        .orderBy("qid", "rk")
    }),

    "q_ann_lsh" -> ((s, dir) => {
      // banded hyperplane LSH ANN (scale path) over a BUILT index
      // (build-once / query-many — the banded projection persists per
      // dir like every other index here). Oracled via planted exact
      // duplicates: for each planted query (vec_id >= 1000000) the LSH
      // top-1 must be its source vector — guaranteed found (identical
      // vectors share every band bucket) and guaranteed rank 1 (cosine
      // 1.0 vs natural max ≈0.60), so brute-force SQL is a sound oracle.
      val idx = lshIndexCache.computeIfAbsent(dir, _ =>
        Similarity.buildLsh(plantedEmbeddings(s, dir), "vec_id", "embedding",
          dim = 64, bands = 8, rowsPerBand = 6))
      Similarity.lshSearch(idx, k = 5)
        .where(col("qid") >= PlantOffset && col("rk") === 1)
        .select(col("qid"), col("nid"), col("sim"))
        .orderBy("qid")
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // IVF ANN (spherical k-means coarse quantizer + probe search) over
      // a BUILT index: ONE corpus-assignment pass persists per dir and
      // serves both the inverted lists and the query probes. Same
      // planted-top-1 oracle as the LSH path: an identical query vector
      // probes its source's cell deterministically, and cosine 1.0
      // beats every natural neighbor (max ≈0.60)
      val idx = ivfIndexCache.computeIfAbsent(dir, _ =>
        Similarity.buildIvf(plantedEmbeddings(s, dir), "vec_id", "embedding",
          dim = 64, ncells = 16, nProbe = 2))
      Similarity.ivfSearch(idx, k = 5)
        .where(col("qid") >= PlantOffset && col("rk") === 1)
        .select(col("qid"), col("nid"), col("sim"))
        .orderBy("qid")
    }),

    "q_semantic_dedup" -> ((s, dir) => {
      // SemDeDup over the SAME cached IVF index as q_ann_ivf: within-cell
      // cosine pairs ≥ 0.9 → connected components → min-id keeper.
      // Planted copies are provably co-celled with their source
      // (identical vectors, deterministic tie-break) and cosine 1.0;
      // max natural cosine ≈0.60 — dup rows = exactly the planted copies
      val idx = ivfIndexCache.computeIfAbsent(dir, _ =>
        Similarity.buildIvf(plantedEmbeddings(s, dir), "vec_id", "embedding",
          dim = 64, ncells = 16, nProbe = 2))
      Similarity.semanticDedup(idx, threshold = 0.9)
        .where(col("is_dup") === 1)
        .select(col("id").as("vec_id"), col("keeper"))
        .orderBy("vec_id")
    }),

    "q_emb_neardup" -> ((s, dir) => {
      // near-dup pairs above 0.9 over the planted table = exactly the
      // planted (source, copy) pairs — LSH finds them with probability 1,
      // brute-force cosine in SQL is a sound oracle
      val emb = plantedEmbeddings(s, dir)
      Similarity.embeddingNearDups(emb, "vec_id", "embedding", dim = 64,
        threshold = 0.9, bands = 8, rowsPerBand = 6)
        .orderBy("a", "b")
    }),

    // ---- auxiliary: multimodal / snippets / pagerank / metadata ----
    "q_multimodal" -> ((s, dir) => {
      // binary media plumbing: deterministic byte features (decode STUB)
      val media = graft.pipeline.Multimodal.attach(documents(s, dir), "doc_id", "text")
      graft.pipeline.Multimodal.decodeFeatures(media)
        .select(col("id").as("doc_id"), col("n_bytes"), col("fp"))
        .orderBy("doc_id")
    }),

    "q_multimodal_wav" -> ((s, dir) => {
      // REAL audio decode: synthesize PCM-16 WAV payloads from a
      // deterministic sample formula, parse them with the RIFF/WAVE
      // decoder, emit features; the oracle recomputes the expected
      // features arithmetically from the same formula — a wrong parse
      // (endianness, chunk walk, sample decode) breaks the hash match
      val synth = udf { (id: Long) =>
        val samples = Array.tabulate[Short](64)(i =>
          (((id * 131 + i * 9973) % 65536) - 32768).toShort)
        graft.pipeline.Multimodal.synthWavBytes(samples, 8000)
      }
      val media = documents(s, dir).where(col("doc_id") < 200)
        .select(col("doc_id").cast(LongType).as("id"), synth(col("doc_id")).as("media"))
      graft.pipeline.Multimodal.decodeWav(media)
        .select(col("id").as("doc_id"),
          col("sample_rate").cast(LongType).as("sample_rate"),
          col("channels").cast(LongType).as("channels"),
          col("n_samples"), col("mean_abs"), col("peak"))
        .orderBy("doc_id")
    }),

    "q_multimodal_bmp" -> ((s, dir) => {
      // REAL image decode: synthesize 24bpp BMPs whose pixel channels
      // follow a closed-form formula of (doc_id, x, y), parse the actual
      // bytes with the BMP decoder, emit mean-RGB features; the oracle
      // recomputes the expected means arithmetically from the same
      // formula — a wrong parse (BGR order, bottom-up rows, row padding)
      // breaks the hash match
      val synth = udf { (id: Long) =>
        val w = 4; val h = 3
        val px = Array.tabulate(w * h) { i =>
          val v = ((id * 7 + (i % 4) * 13 + (i / 4) * 31) % 256).toInt
          (v << 16) | (((v + 85) % 256) << 8) | ((v + 170) % 256)
        }
        graft.pipeline.Multimodal.synthBmpBytes(w, h, px)
      }
      val media = documents(s, dir).where(col("doc_id") < 200)
        .select(col("doc_id").cast(LongType).as("id"), synth(col("doc_id")).as("media"))
      graft.pipeline.Multimodal.decodeBmp(media)
        .select(col("id").as("doc_id"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("n_pixels"), col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("doc_id")
    }),

    "q_multimodal_png" -> ((s, dir) => {
      // REAL compressed-image decode: synthesize PNGs (zlib-deflated,
      // Paeth-filtered scanlines) from a closed-form pixel formula of
      // (doc_id, i), inflate+de-filter them with the PNG decoder, emit
      // mean-RGB features; oracle recomputes the means arithmetically
      val synth = udf { (id: Long) =>
        val w = 5; val h = 4
        val px = Array.tabulate(w * h) { i =>
          val v = ((id * 11 + i * 29) % 256).toInt
          (v << 16) | (((v + 63) % 256) << 8) | ((v + 190) % 256)
        }
        graft.pipeline.Multimodal.synthPngBytes(w, h, px, filterType = 4)
      }
      val media = documents(s, dir).where(col("doc_id") < 200)
        .select(col("doc_id").cast(LongType).as("id"), synth(col("doc_id")).as("media"))
      graft.pipeline.Multimodal.decodePng(media)
        .select(col("id").as("doc_id"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("n_pixels"), col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("doc_id")
    }),

    "q_multimodal_jpeg" -> ((s, dir) => {
      // REAL lossy-image decode via the JDK's own ImageIO codec
      // (java.desktop): solid-color JPEGs per doc. JPEG is lossy, so
      // the oracle checks the lossless metadata columns — a parse
      // failure flips width to -1 and breaks the hash match; pixel
      // tolerance is pinned in AuxOpsSpec.
      val synth = udf { (id: Long) =>
        val v = ((id * 37) % 256).toInt
        graft.pipeline.Multimodal.synthJpegBytes(6, 4,
          (v << 16) | (((v + 90) % 256) << 8) | ((v + 180) % 256))
      }
      val media = documents(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id").cast(LongType).as("id"), synth(col("doc_id")).as("media"))
      graft.pipeline.Multimodal.decodeImageIO(media)
        .select(col("id").as("doc_id"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("n_pixels"))
        .orderBy("doc_id")
    }),

    "q_snippets" -> ((s, dir) => {
      // SnippetBuilder analogue — fully oracled (round 4): the greedy
      // region merge runs as a recursive CTE and the highlighted string
      // assembles in SQL (simple-mode rawTokens == the oracle tokens)
      val docs = corpusDocs(s, dir)
      graft.search.Snippets.build(docs, "#combine(data merge)", cfg.analyzer,
        windowWidth = 12)
        .select(col("docId").as("doc_id"), col("snippet"))
        .orderBy("doc_id")
    }),

    "q_pagerank" -> ((s, dir) => {
      // harvestlinks/pagerank aux (c=0.7, 10 iters) over a deterministic
      // link table derived from events
      val ev = s.read.parquet(s"$dir/events.parquet")
      val edges = ev.select((col("user_id") % 20).as("src"), (col("event_id") % 20).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      val nodes = s.range(0, 20).toDF("id")
      graft.pipeline.PageRank.compute(nodes, edges)
        .select(col("id"), round(col("pr"), 6).as("pr"))
        .orderBy("id")
    }),

    "q_harvestlinks" -> ((s, dir) => {
      // harvestlinks link harvest + redirect conflation (reference:
      // src/AnchorTextHarvester.cpp:118-176): whitespace-only anchors
      // drop, ordinals survive the drop, off-corpus targets stay in the
      // raw link table (resolution is q_anchor_text's step)
      HarvestLinks.conflate(
          HarvestLinks.harvest(webDocs(s, dir)), webRedirects(s, dir))
        .select(col("src_doc"), col("link_ord").cast(LongType).as("link_ord"),
          col("dst_url"), col("anchor"))
        .orderBy("src_doc", "link_ord")
    }),

    "q_anchor_text" -> ((s, dir) => {
      // resolve in-corpus targets and aggregate per-target anchor text
      // (the AnchorTextAnnotator input record, src/AnchorTextAnnotator
      // .cpp:56-77); external targets drop at the docno join
      val web = webDocs(s, dir)
      val resolved = HarvestLinks.resolve(
        HarvestLinks.conflate(HarvestLinks.harvest(web), webRedirects(s, dir)),
        web.select(col("url"), col("doc_id")))
      HarvestLinks.anchorText(resolved)
        .select(col("dst_doc"), col("n_inlinks"), col("anchors"))
        .orderBy("dst_doc")
    }),

    "q_pagerank_harvest" -> ((s, dir) => {
      // the full harvestlinks → pagerank chain: harvested + conflated +
      // resolved in-corpus edges feed PageRank (c=0.7, 10 iters) over
      // the whole page universe
      val web = webDocs(s, dir)
      val resolved = HarvestLinks.resolve(
        HarvestLinks.conflate(HarvestLinks.harvest(web), webRedirects(s, dir)),
        web.select(col("url"), col("doc_id")))
      val edges = resolved.select(col("src_doc").as("src"), col("dst_doc").as("dst"))
        .distinct()
      graft.pipeline.PageRank.compute(web.select(col("doc_id")), edges)
        .select(col("id"), round(col("pr"), 6).as("pr"))
        .orderBy("id")
    }),

    "q_pagerank_ranks" -> ((s, dir) => {
      // the pagerank APPLICATION tail: raw scores → integer ranks 1..10
      // ("Metzler's rawToInt", src/PageRank.cpp:276-301) → the
      // _intToProb log-probability priors that feed makeprior
      // (pagerank.cpp writeRanks/writePriors). Same harvested graph as
      // q_pagerank_harvest.
      val web = webDocs(s, dir)
      val resolved = HarvestLinks.resolve(
        HarvestLinks.conflate(HarvestLinks.harvest(web), webRedirects(s, dir)),
        web.select(col("url"), col("doc_id")))
      val edges = resolved.select(col("src_doc").as("src"), col("dst_doc").as("dst"))
        .distinct()
      val pr = graft.pipeline.PageRank.compute(web.select(col("doc_id")), edges)
      val prob = udf((r: Int) => graft.pipeline.PageRank.IntToProb(r))
      graft.pipeline.PageRank.toIntRanks(pr)
        .select(col("id").as("doc_id"), round(col("pr"), 6).as("pr"),
          col("rank").cast(LongType).as("pr_rank"),
          round(prob(col("rank")), 6).as("prior"))
        .orderBy("doc_id")
    }),

    "q_meta_lookup" -> ((s, dir) => {
      // documentIDsFromMetadata → documentMetadata through the Engine
      // facade (reference: include/indri/QueryEnvironment.hpp:221-257)
      val eng = engine(s, dir)
      eng.setMetadata(documents(s, dir), idCol = "doc_id")
      val ids = eng.documentIDsFromMetadata("source", Seq("src7", "src13"))
      eng.documentMetadata(ids, Seq("lang", "source"))
        .select(col("docId").as("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // ---- text analysis ----
    "q_lang_id" -> ((s, dir) =>
      TextPipeline.languageId(documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("lang_pred"), col("marker_hits").cast(LongType).as("marker_hits"))
        .orderBy("doc_id")),

    "q_quality" -> ((s, dir) =>
      TextPipeline.qualityScore(documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_chars").cast(LongType).as("n_chars"),
          col("n_tokens").cast(LongType).as("n_tokens"), col("mean_tok_len"),
          col("punct_ratio"), col("stopword_ratio"))
        .orderBy("doc_id")),

    "q_token_counts" -> ((s, dir) =>
      TextPipeline.tokenCounts(documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_regex_tokens").cast(LongType).as("n_regex_tokens"),
          col("n_ws_tokens").cast(LongType).as("n_ws_tokens"), col("n_bpe_est"))
        .orderBy("doc_id")),

    "q_fingerprints" -> ((s, dir) =>
      TextPipeline.fingerprints(documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("content_fp"), col("min_shingle_fp"),
          col("n_distinct_shingles").cast(LongType).as("n_distinct_shingles"))
        .orderBy("doc_id")),

    "q_decontaminate" -> ((s, dir) => {
      // probe set = docs 0-4 standing in for a benchmark suite; flag any
      // corpus doc sharing an 8-gram with it (probe docs self-match)
      val docs = documents(s, dir)
      TextPipeline.ngramContamination(docs, "doc_id", "text",
        probes = docs.where(col("doc_id") < 5), probeTextCol = "text", n = 8)
        .orderBy("doc_id")
    }),

    "q_decontaminate_bloom" -> ((s, dir) => {
      // the Bloom-pre-filtered variant MUST equal the exact operator
      // (false positives die in the verify join) — same oracle SQL
      val docs = documents(s, dir)
      TextPipeline.ngramContaminationBloom(docs, "doc_id", "text",
        probes = docs.where(col("doc_id") < 5), probeTextCol = "text", n = 8)
        .orderBy("doc_id")
    }),

    "q_repetition" -> ((s, dir) =>
      TextPipeline.repetitionStats(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "q_code_stats" -> ((s, dir) =>
      TextPipeline.codeStats(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "q_hash_split" -> ((s, dir) =>
      TextPipeline.hashSplit(documents(s, dir), "doc_id")
        .select(col("doc_id"), col("bucket").cast(LongType).as("bucket"), col("split"))
        .orderBy("doc_id")),

    "q_unigram_lp" -> ((s, dir) =>
      TextPipeline.unigramLogProb(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "q_sample_strata" -> ((s, dir) =>
      // deterministic training-mix sampling: per-source keep rates with
      // a default for unlisted strata; membership is a pure function of
      // the id (md5 uniform), so the sample is layout/run-invariant and
      // monotone in the rates
      TextPipeline.sampleStrata(documents(s, dir), "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.5), defaultRate = 0.25)
        .orderBy("doc_id")),

    "q_pii" -> ((s, dir) =>
      // counts + md5 of the redacted text (compact cross-engine compare
      // of the full replacement output)
      TextPipeline.redactPii(documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("n_phones"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")),

    "q_snippet_stats" -> ((s, dir) => {
      // structural verification of the BUILT snippet strings: region
      // count (" ... " separators) and highlight count ("<b>") parsed
      // back out of Snippets.build's output must equal the greedy
      // region-merge the oracle recomputes from token positions alone
      // (q_snippets itself stays the human-readable string surface)
      // (highlight COUNT is not a clean invariant: a region's ±2-token
      // context window may reprint a neighboring region's match, so only
      // the region structure is compared)
      val sn = graft.search.Snippets.build(corpusDocs(s, dir),
        "#combine(data merge)", cfg.analyzer, windowWidth = 12)
      sn.select(col("docId").as("doc_id"),
        size(split(col("snippet"), " \\.\\.\\. ", -1)).cast(LongType).as("n_regions"))
        .orderBy("doc_id")
    }),

    "q_compact" -> ((s, dir) => {
      // delete doc_id % 7 == 0, trim (compactDeletes), dump the
      // dictionary — must equal a dictionary computed over the surviving
      // docs only (Repository trim semantics, stable docIds)
      // fresh Engine over the CACHED per-dir index: deletions/compaction
      // are engine-local state, so the shared build is safe to reuse
      val eng = new Engine(s, buildIndex(s, dir), cfg.analyzer, ScoringRule(method = "okapi"))
      eng.deleteDocuments(documents(s, dir).where(col("doc_id") % 7 === 0)
        .select(col("doc_id")))
      eng.compacted(cfg).index.dictionary
        .select(col("term"), col("df"), col("ctf"),
          col("maxDocLen").cast(LongType).as("max_dl"),
          col("minDocLen").cast(LongType).as("min_dl"))
        .orderBy("term")
    }),

    "q_sdm" -> ((s, dir) => {
      // reformulateQuery genSDM: plain terms → Metzler-Croft sequential
      // dependence #weight(0.85 terms 0.1 #1-pairs 0.05 #uw8-pairs),
      // then run under Dirichlet (reference:
      // src/QueryEnvironment.cpp:1410-1418, src/ReformulateQuery.cpp:144-165)
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runQuery(graft.search.Reformulate.sdm(BmTerms), 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_fdm" -> ((s, dir) => {
      // reformulateQuery genFDM: every contiguous span contributes #1 and
      // #uw{4·len} — for 3 terms: od pairs + od triple, uw8 pairs + uw12
      // triple (reference: src/ReformulateQuery.cpp:276-310)
      val eng = engine(s, dir)
      eng.setScoringRules("method:dirichlet")
      eng.runQuery(graft.search.Reformulate.fdm(BmTerms), 20)
        .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    }),

    "q_clarity" -> ((s, dir) => {
      // query clarity = KL(RM1 ‖ collection LM) in bits over the top-10
      // feedback terms (reference: clarity/clarity.cpp:64-85)
      val eng = engine(s, dir)
      val c = graft.search.RelevanceModel.clarity(eng,
        s"#combine(${BmTerms.mkString(" ")})",
        graft.search.RelevanceModel.Params(fbDocs = 10, fbTerms = 10))
      import s.implicits._
      Seq(c).toDF("c").select(round(col("c"), 6).as("clarity"))
    })
  )

  // ------------------------------------------------------------------
  // DuckDB oracles
  // ------------------------------------------------------------------

  def oracleSql: Map[String, String] = Map(

    "q_dictionary" ->
      s"""$DTok, p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id
         |)
         |SELECT p.term, count(*) AS df, sum(p.tf)::BIGINT AS ctf,
         |       max(dl.doclen) AS max_dl, min(dl.doclen) AS min_dl
         |FROM p JOIN dl USING(doc_id)
         |GROUP BY p.term ORDER BY p.term""".stripMargin,

    "q_doclens" ->
      s"$DTok SELECT doc_id, doclen FROM dl ORDER BY doc_id",

    "q_corpus_stats" ->
      s"""$DTok
         |SELECT (SELECT count(*) FROM d) AS total_docs,
         |       (SELECT sum(doclen) FROM dl)::BIGINT AS total_terms,
         |       (SELECT count(DISTINCT term) FROM tok) AS unique_terms""".stripMargin,

    "q_term_postings" ->
      s"""$DTok
         |SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'merge'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_bm25_topk" -> bm25Sql(BmTerms, 20),
    // federation is score-transparent: two member repositories with
    // globally-summed stats produce exactly the single-repository ranking
    "q_federated" -> bm25Sql(BmTerms, 20),

    // the RunQuery app surface: two okapi-baseline bags, TREC lines
    // `number Q0 docno rank score runID`; ranks and score text both ride
    // the 6-decimal rounded value on BOTH engines
    "q_runquery" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
         |), p1 AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ts1 AS (
         |  SELECT term, count(*) AS df FROM p1 GROUP BY term
         |), sc1 AS (
         |  SELECT p1.doc_id,
         |    sum( (ln((st.n - ts1.df + 0.5) / (ts1.df + 0.5)) * 2.2) * p1.tf
         |         / (p1.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p1 JOIN ts1 USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY p1.doc_id
         |), r1 AS (
         |  SELECT '100' AS query_number,
         |    row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) AS rk,
         |    doc_id, round(s, 6) AS score FROM sc1
         |), p2 AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BandTerms)} GROUP BY term, doc_id
         |), ts2 AS (
         |  SELECT term, count(*) AS df FROM p2 GROUP BY term
         |), sc2 AS (
         |  SELECT p2.doc_id,
         |    sum( (ln((st.n - ts2.df + 0.5) / (ts2.df + 0.5)) * 2.2) * p2.tf
         |         / (p2.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p2 JOIN ts2 USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY p2.doc_id
         |), r2 AS (
         |  SELECT 'trec7' AS query_number,
         |    row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) AS rk,
         |    doc_id, round(s, 6) AS score FROM sc2
         |), u AS (
         |  SELECT * FROM r1 WHERE rk <= 15
         |  UNION ALL SELECT * FROM r2 WHERE rk <= 15
         |)
         |SELECT query_number, rk, doc_id,
         |  query_number || ' Q0 D' || doc_id::VARCHAR || ' ' || rk::VARCHAR ||
         |  ' ' || printf('%.6f', score) || ' graft' AS line
         |FROM u ORDER BY query_number, rk""".stripMargin,
    "q_buildindex" ->
      s"""$DTok, ids AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS new_id,
         |         'r0/' || printf('%08d', doc_id) || '@c0' AS docno
         |  FROM documents
         |), st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ts AS (
         |  SELECT term, count(*) AS df FROM p GROUP BY term
         |), sc AS (
         |  SELECT p.doc_id,
         |    sum( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
         |         / (p.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p JOIN ts USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY p.doc_id
         |), r AS (
         |  SELECT ids.new_id, ids.docno,
         |    row_number() OVER (ORDER BY round(s, 6) DESC, ids.new_id) AS rk,
         |    round(s, 6) AS score
         |  FROM sc JOIN ids USING(doc_id)
         |)
         |SELECT '0' AS query_number, rk, new_id AS doc_id,
         |  '0 Q0 ' || docno || ' ' || rk::VARCHAR || ' ' ||
         |  printf('%.6f', score) || ' graft' AS line
         |FROM r WHERE rk <= 15 ORDER BY rk""".stripMargin,

    "q_bm25_daat" -> bm25Sql(BmTerms, 20),

    // tfidf: score = (tw·idf·k1)·tf / (tf + k1(1−b) + k1·b/avgdl·dl),
    // tw = idf·1000/1001 for qtf=1 (reference: TFIDFTermScoreFunction.hpp:144-148)
    "q_tfidf_topk" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ts AS (
         |  SELECT term, count(*) AS df FROM p GROUP BY term
         |), sc AS (
         |  SELECT p.doc_id,
         |    sum( ((ln((st.n + 1) / (ts.df + 0.5)) * 1000.0 / 1001.0)
         |          * ln((st.n + 1) / (ts.df + 0.5)) * 1.2) * p.tf
         |         / (p.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p JOIN ts USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY p.doc_id
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    "q_lm_twostage" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ctf AS (
         |  SELECT term, count(*) AS ctf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM p
         |), grid AS (
         |  SELECT c.doc_id, t.term, t.ctf, coalesce(p.tf, 0) AS tf
         |  FROM cand c CROSS JOIN ctf t
         |  LEFT JOIN p ON p.doc_id = c.doc_id AND p.term = t.term
         |), sc AS (
         |  SELECT g.doc_id,
         |    sum(ln(0.6 * ((g.tf + 2500.0 * g.ctf / st.tt) / (dl.doclen + 2500.0))
         |           + 0.4 * g.ctf / st.tt)) / ${BmTerms.size} AS s
         |  FROM grid g JOIN dl ON dl.doc_id = g.doc_id CROSS JOIN st
         |  GROUP BY g.doc_id
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    "q_wsum" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), tfs AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'data') AS tf1,
         |    count(*) FILTER (WHERE term = 'merge') AS tf2
         |  FROM tok WHERE term IN ('data','merge') GROUP BY doc_id
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS c1,
         |         (SELECT count(*) FROM tok WHERE term = 'merge') AS c2
         |)
         |SELECT t.doc_id,
         |  round(ln( (2.0/3.0) * ((t.tf1 + 2500.0 * cf.c1 / st.tt) / (dl.doclen + 2500.0))
         |          + (1.0/3.0) * ((t.tf2 + 2500.0 * cf.c2 / st.tt) / (dl.doclen + 2500.0)) ), 6) AS score
         |FROM tfs t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |ORDER BY t.doc_id""".stripMargin,

    "q_or" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), tfs AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'data') AS tf1,
         |    count(*) FILTER (WHERE term = 'merge') AS tf2
         |  FROM tok WHERE term IN ('data','merge') GROUP BY doc_id
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS c1,
         |         (SELECT count(*) FROM tok WHERE term = 'merge') AS c2
         |)
         |SELECT t.doc_id,
         |  round(ln(1.0 - (1.0 - (t.tf1 + 2500.0 * cf.c1 / st.tt) / (dl.doclen + 2500.0))
         |               * (1.0 - (t.tf2 + 2500.0 * cf.c2 / st.tt) / (dl.doclen + 2500.0)) ), 6) AS score
         |FROM tfs t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |ORDER BY t.doc_id""".stripMargin,

    "q_max" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), tfs AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'data') AS tf1,
         |    count(*) FILTER (WHERE term = 'merge') AS tf2
         |  FROM tok WHERE term IN ('data','merge') GROUP BY doc_id
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS c1,
         |         (SELECT count(*) FROM tok WHERE term = 'merge') AS c2
         |)
         |SELECT t.doc_id,
         |  round(greatest(
         |    ln((t.tf1 + 2500.0 * cf.c1 / st.tt) / (dl.doclen + 2500.0)),
         |    ln((t.tf2 + 2500.0 * cf.c2 / st.tt) / (dl.doclen + 2500.0))), 6) AS score
         |FROM tfs t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |ORDER BY t.doc_id""".stripMargin,

    "q_not" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'data' GROUP BY doc_id
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS c1
         |)
         |SELECT p.doc_id,
         |  round(ln(1.0 - (p.tf + 2500.0 * cf.c1 / st.tt) / (dl.doclen + 2500.0)), 6) AS score
         |FROM p JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |ORDER BY p.doc_id""".stripMargin,

    "q_topdocs" ->
      s"""$DTok, p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id
         |), r AS (
         |  SELECT p.term, p.doc_id, p.tf, dl.doclen,
         |    row_number() OVER (PARTITION BY p.term
         |                       ORDER BY p.tf::DOUBLE / dl.doclen DESC, p.doc_id) AS rk,
         |    count(*) OVER (PARTITION BY p.term) AS dfw
         |  FROM p JOIN dl USING(doc_id)
         |)
         |SELECT term, doc_id, tf, doclen AS length FROM r
         |WHERE dfw > 50 AND rk <= greatest(1, ceil(dfw * 0.01))
         |ORDER BY term, doc_id""".stripMargin,

    "q_rm3_terms" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ts AS (
         |  SELECT term, count(*) AS df FROM p GROUP BY term
         |), sc AS (
         |  SELECT p.doc_id,
         |    sum( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
         |         / (p.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p JOIN ts USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY p.doc_id
         |), fb AS (
         |  SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 10
         |), mx AS (
         |  SELECT max(s) AS m FROM fb
         |), ex AS (
         |  SELECT doc_id, exp(s - mx.m) AS e FROM fb CROSS JOIN mx
         |), post AS (
         |  SELECT doc_id, e / (SELECT sum(e) FROM ex) AS w FROM ex
         |), tw AS (
         |  SELECT cnt.term, sum(post.w * cnt.tf::DOUBLE / dl.doclen) AS weight
         |  FROM (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term) cnt
         |  JOIN post USING(doc_id) JOIN dl USING(doc_id)
         |  WHERE regexp_matches(cnt.term, '^[a-zA-Z0-9]+$$')
         |  GROUP BY cnt.term HAVING sum(post.w * cnt.tf::DOUBLE / dl.doclen) > 0
         |), sel AS (
         |  SELECT term, weight FROM tw ORDER BY weight DESC, term LIMIT 10
         |)
         |SELECT term, round(weight, 6) AS weight FROM sel""".stripMargin,

    "q_rmodel_grams" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ts AS (
         |  SELECT term, count(*) AS df FROM p GROUP BY term
         |), sc AS (
         |  SELECT p.doc_id,
         |    sum( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
         |         / (p.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p JOIN ts USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY p.doc_id
         |), fb AS (
         |  SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 10
         |), mx AS (
         |  SELECT max(s) AS m FROM fb
         |), ex AS (
         |  SELECT doc_id, exp(s - mx.m) AS e FROM fb CROSS JOIN mx
         |), post AS (
         |  SELECT doc_id, e / (SELECT sum(e) FROM ex) AS w FROM ex
         |), uni AS (
         |  SELECT doc_id, term AS gram, 1 AS n, count(*) AS c FROM tok
         |  WHERE doc_id IN (SELECT doc_id FROM post) GROUP BY doc_id, term
         |), bi AS (
         |  SELECT t1.doc_id, t1.term || ' ' || t2.term AS gram, 2 AS n, count(*) AS c
         |  FROM tok t1 JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
         |  WHERE t1.doc_id IN (SELECT doc_id FROM post)
         |  GROUP BY t1.doc_id, t1.term || ' ' || t2.term
         |), g AS (
         |  SELECT * FROM uni UNION ALL SELECT * FROM bi
         |), tw AS (
         |  SELECT g.gram, g.n, sum(post.w * g.c::DOUBLE / dl.doclen) AS weight
         |  FROM g JOIN post USING(doc_id) JOIN dl USING(doc_id)
         |  GROUP BY g.gram, g.n HAVING sum(post.w * g.c::DOUBLE / dl.doclen) > 0
         |)
         |SELECT gram, n::BIGINT AS n, round(weight, 6) AS weight FROM tw
         |ORDER BY round(weight, 6) DESC, gram LIMIT 15""".stripMargin,

    "q_clarity_app" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ts AS (
         |  SELECT term, count(*) AS df FROM p GROUP BY term
         |), sc AS (
         |  SELECT p.doc_id,
         |    sum( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
         |         / (p.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p JOIN ts USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY p.doc_id
         |), fb AS (
         |  SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 5
         |), mx AS (
         |  SELECT max(s) AS m FROM fb
         |), ex AS (
         |  SELECT doc_id, exp(s - mx.m) AS e FROM fb CROSS JOIN mx
         |), post AS (
         |  SELECT doc_id, e / (SELECT sum(e) FROM ex) AS w FROM ex
         |), cand AS (
         |  SELECT DISTINCT term FROM tok WHERE doc_id IN (SELECT doc_id FROM post)
         |), ctf AS (
         |  SELECT term, count(*) AS ctf FROM tok GROUP BY term
         |), cnt AS (
         |  SELECT doc_id, term, count(*) AS tf FROM tok
         |  WHERE doc_id IN (SELECT doc_id FROM post) GROUP BY doc_id, term
         |), tw AS (
         |  -- exp(ln(·)) mirrors the engine's exp(scoreOccurrence(·))
         |  -- round-trip; inner associativity matches the Scala factoring
         |  -- 0.6·(occ/len) + 0.4·(ctf/|C|)
         |  SELECT cand.term,
         |    sum(post.w * exp(ln(0.6 * (coalesce(cnt.tf, 0)::DOUBLE / dl.doclen)
         |                  + 0.4 * (ctf.ctf::DOUBLE / st.tt::DOUBLE)))) AS pwq,
         |    max(ctf.ctf) AS ctf
         |  FROM cand CROSS JOIN post
         |  JOIN dl ON dl.doc_id = post.doc_id
         |  JOIN ctf ON ctf.term = cand.term
         |  CROSS JOIN st
         |  LEFT JOIN cnt ON cnt.doc_id = post.doc_id AND cnt.term = cand.term
         |  GROUP BY cand.term
         |)
         |SELECT term, round(pwq, 6) AS pwq,
         |  round(pwq * ln(pwq / (ctf::DOUBLE / st.tt::DOUBLE)) / ln(2), 6) AS bits
         |FROM tw CROSS JOIN st
         |ORDER BY round(pwq, 6) DESC, term LIMIT 10""".stripMargin,

    "q_lm_dirichlet" -> dirichletSql(BmTerms, 20),
    "q_lm_jm" -> jmSql(BmTerms, 20),

    "q_filreq" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'data' GROUP BY doc_id
         |), ts AS (
         |  SELECT count(*) AS df FROM p
         |), band AS (
         |  SELECT doc_id FROM tok WHERE term IN ('spark','table')
         |  GROUP BY doc_id HAVING count(DISTINCT term) = 2
         |)
         |SELECT p.doc_id,
         |  round( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
         |       / (p.tf + 0.3 + (0.9 / (st.tt / st.n)) * dl.doclen), 6) AS score
         |FROM p JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN ts
         |WHERE p.doc_id IN (SELECT doc_id FROM band)
         |ORDER BY p.doc_id""".stripMargin,

    "q_filrej" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'data' GROUP BY doc_id
         |), ts AS (
         |  SELECT count(*) AS df FROM p
         |), band AS (
         |  SELECT doc_id FROM tok WHERE term IN ('spark','table')
         |  GROUP BY doc_id HAVING count(DISTINCT term) = 2
         |)
         |SELECT p.doc_id,
         |  round( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
         |       / (p.tf + 0.3 + (0.9 / (st.tt / st.n)) * dl.doclen), 6) AS score
         |FROM p JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN ts
         |WHERE p.doc_id NOT IN (SELECT doc_id FROM band)
         |ORDER BY p.doc_id""".stripMargin,

    "q_wildcard" ->
      // cap the expansion EXACTLY like the engine: the 100 alphabetically
      // first vocabulary terms with the prefix (Engine.maxWildcardTerms,
      // reference: include/indri/InferenceNetworkBuilder.hpp:64) — without
      // the cap the two sides diverge once >100 terms share the prefix
      s"""$DTok, wt AS (
         |  SELECT DISTINCT term FROM tok WHERE term LIKE 's%'
         |  ORDER BY term LIMIT 100
         |)
         |SELECT doc_id, count(*) AS tf FROM tok
         |WHERE term IN (SELECT term FROM wt)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_prior" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'data' GROUP BY doc_id
         |), ctf AS (
         |  SELECT count(*) AS ctf FROM tok WHERE term = 'data'
         |), sc AS (
         |  SELECT dl.doc_id,
         |    0.5 * ln((coalesce(p.tf, 0) + 2500.0 * ctf.ctf / st.tt) / (dl.doclen + 2500.0))
         |    + 0.5 * ln(1.0 / (1.0 + dl.doc_id % 5)) AS s
         |  FROM dl LEFT JOIN p USING(doc_id) CROSS JOIN st CROSS JOIN ctf
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    "q_lengthprior" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'data' GROUP BY doc_id
         |), ctf AS (
         |  SELECT count(*) AS ctf FROM tok WHERE term = 'data'
         |)
         |SELECT p.doc_id,
         |  round(ln((p.tf + 2500.0 * ctf.ctf / st.tt) / (dl.doclen + 2500.0))
         |        + 0.5 * ln(dl.doclen), 6) AS score
         |FROM p JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN ctf
         |ORDER BY p.doc_id""".stripMargin,

    "q_wsyn_score" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT doc_id,
         |    0.7 * count(*) FILTER (WHERE term = '${SynPair._1}')
         |    + 0.3 * count(*) FILTER (WHERE term = '${SynPair._2}') AS wocc
         |  FROM tok WHERE term IN ('${SynPair._1}','${SynPair._2}') GROUP BY doc_id
         |), ts AS (
         |  SELECT sum(wocc)::DOUBLE AS occ, count(*) AS df FROM p
         |)
         |SELECT p.doc_id,
         |  round( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.wocc
         |       / (p.wocc + 0.3 + (0.9 / (st.tt / st.n)) * dl.doclen), 6) AS score
         |FROM p JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN ts
         |ORDER BY p.doc_id""".stripMargin,

    "q_docvector" ->
      s"""$DTok
         |SELECT doc_id, (pos - 1)::BIGINT AS pos, term FROM tok
         |WHERE doc_id < 30 ORDER BY doc_id, pos""".stripMargin,

    "q_bm25_deleted" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ts AS (
         |  SELECT term, count(*) AS df FROM p GROUP BY term
         |), sc AS (
         |  SELECT p.doc_id,
         |    sum( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
         |         / (p.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p JOIN ts USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  WHERE p.doc_id % 7 <> 0
         |  GROUP BY p.doc_id
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    "q_od1_phrase" ->
      s"""$DTok
         |SELECT a.doc_id, count(*) AS tf
         |FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |WHERE a.term = '${OdPair._1}' AND b.term = '${OdPair._2}'
         |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    "q_uw4_match" ->
      s"""$DTok
         |SELECT DISTINCT a.doc_id
         |FROM tok a JOIN tok b USING(doc_id)
         |WHERE a.term = '${UwPair._1}' AND b.term = '${UwPair._2}'
         |  AND abs(a.pos - b.pos) <= 3
         |ORDER BY a.doc_id""".stripMargin,

    "q_band_match" ->
      s"""$DTok
         |SELECT doc_id FROM tok WHERE term IN ${inList(BandTerms)}
         |GROUP BY doc_id HAVING count(DISTINCT term) = ${BandTerms.size}
         |ORDER BY doc_id""".stripMargin,

    "q_syn_tf" ->
      s"""$DTok
         |SELECT doc_id, count(*) AS tf FROM tok
         |WHERE term IN ('${SynPair._1}', '${SynPair._2}')
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_xcount" ->
      s"""$DTok, m AS (
         |  SELECT a.doc_id, count(*) AS tf
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE a.term = '${OdPair._1}' AND b.term = '${OdPair._2}'
         |  GROUP BY a.doc_id
         |)
         |SELECT coalesce(sum(tf), 0)::BIGINT AS xcount, count(*)::BIGINT AS dxcount FROM m""".stripMargin,

    "q_annotated" ->
      s"""$DTok, odm AS (
         |  SELECT a.doc_id, a.pos - 1 AS b, b.pos AS e
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE a.term = '${OdPair._1}' AND b.term = '${OdPair._2}'
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term = 'data'
         |  UNION
         |  SELECT DISTINCT doc_id FROM odm
         |), ann AS (
         |  SELECT doc_id, '0:combine/0:term(data)' AS node, pos - 1 AS "begin", pos AS "end"
         |  FROM tok WHERE term = 'data' AND doc_id IN (SELECT doc_id FROM cand)
         |  UNION ALL
         |  SELECT doc_id, '0:combine/1:od1' AS node, b AS "begin", e AS "end" FROM odm
         |  UNION ALL
         |  SELECT doc_id, '0:combine/1:od1/0:term(${OdPair._1})' AS node, pos - 1, pos
         |  FROM tok WHERE term = '${OdPair._1}' AND doc_id IN (SELECT doc_id FROM cand)
         |  UNION ALL
         |  SELECT doc_id, '0:combine/1:od1/1:term(${OdPair._2})' AS node, pos - 1, pos
         |  FROM tok WHERE term = '${OdPair._2}' AND doc_id IN (SELECT doc_id FROM cand)
         |)
         |SELECT node, doc_id, "begin"::BIGINT AS "begin", "end"::BIGINT AS "end"
         |FROM ann ORDER BY node, doc_id, "begin"""".stripMargin,

    "q_shrinkage" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM tok WHERE term = 'merge') AS cm
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data','merge')
         |), tfx AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS hd,
         |    count(*) FILTER (WHERE term = 'merge' AND pos <= 10) AS hm,
         |    count(*) FILTER (WHERE term = 'data') AS ad,
         |    count(*) FILTER (WHERE term = 'merge') AS am
         |  FROM tok WHERE doc_id IN (SELECT doc_id FROM cand) GROUP BY doc_id
         |), sc AS (
         |  SELECT t.doc_id, least(10, dl.doclen) AS hlen, dl.doclen,
         |    0.5 * ln(0.6 * (0.8 * (t.hd::DOUBLE / least(10, dl.doclen))
         |                  + 0.2 * (0.6 * t.ad / dl.doclen + 0.4 * cf.cd / st.tt))
         |           + 0.4 * cf.cd / st.tt)
         |  + 0.5 * ln(0.6 * (0.8 * (t.hm::DOUBLE / least(10, dl.doclen))
         |                  + 0.2 * (0.6 * t.am / dl.doclen + 0.4 * cf.cm / st.tt))
         |           + 0.4 * cf.cm / st.tt) AS s
         |  FROM tfx t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |)
         |SELECT doc_id, 0::BIGINT AS "begin", hlen::BIGINT AS "end",
         |  round(s, 6) AS score
         |FROM sc ORDER BY doc_id, "begin"""".stripMargin,

    "q_nexi" ->
      // head extent = [0, min(10, doclen)); tf counted inside the extent
      // (pos <= 10 in 1-based SQL positions); context size = extent
      // length; dirichlet with global collection frequencies, 1/2 weights
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM tok WHERE term = 'merge') AS cm
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data','merge')
         |), tfe AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS tfd,
         |    count(*) FILTER (WHERE term = 'merge' AND pos <= 10) AS tfm
         |  FROM tok WHERE doc_id IN (SELECT doc_id FROM cand) GROUP BY doc_id
         |)
         |SELECT t.doc_id, 0::BIGINT AS "begin", least(10, dl.doclen)::BIGINT AS "end",
         |  round(0.5 * ln((t.tfd + 2500.0 * cf.cd / st.tt) / (least(10, dl.doclen) + 2500.0))
         |      + 0.5 * ln((t.tfm + 2500.0 * cf.cm / st.tt) / (least(10, dl.doclen) + 2500.0)), 6) AS score
         |FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |ORDER BY t.doc_id, "begin"""".stripMargin,

    // q_nexi restricted to the working set doc_id <= 120
    "q_nexi_ws" ->
      // head extent = [0, min(10, doclen)); tf counted inside the extent
      // (pos <= 10 in 1-based SQL positions); context size = extent
      // length; dirichlet with global collection frequencies, 1/2 weights
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM tok WHERE term = 'merge') AS cm
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data','merge') AND doc_id <= 120
         |), tfe AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS tfd,
         |    count(*) FILTER (WHERE term = 'merge' AND pos <= 10) AS tfm
         |  FROM tok WHERE doc_id IN (SELECT doc_id FROM cand) GROUP BY doc_id
         |)
         |SELECT t.doc_id, 0::BIGINT AS "begin", least(10, dl.doclen)::BIGINT AS "end",
         |  round(0.5 * ln((t.tfd + 2500.0 * cf.cd / st.tt) / (least(10, dl.doclen) + 2500.0))
         |      + 0.5 * ln((t.tfm + 2500.0 * cf.cm / st.tt) / (least(10, dl.doclen) + 2500.0)), 6) AS score
         |FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |ORDER BY t.doc_id, "begin"""".stripMargin,

    // one scored lead extent per candidate (docs containing data);
    // path is the constant chain /head[1]/lead[1] (lead is the deepest
    // field containing its own extent), docno falls back to the docId,
    // rsv prints %.6f of the rounded score on both engines
    "q_inex" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt,
         |         (SELECT count(*) FROM tok WHERE term = 'data')::DOUBLE AS cd
         |), tfe AS (
         |  SELECT doc_id, count(*) FILTER (WHERE pos <= 4) AS tfd
         |  FROM tok WHERE doc_id IN (SELECT DISTINCT doc_id FROM tok WHERE term = 'data')
         |    AND term = 'data'
         |  GROUP BY doc_id
         |), sc AS (
         |  SELECT t.doc_id,
         |    round(ln((t.tfd + 2500.0 * st.cd / st.tt) / (least(4, dl.doclen) + 2500.0)), 6) AS s
         |  FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rk FROM sc
         |)
         |SELECT rk, doc_id,
         |  '    <result>' || chr(10) || '      <file>' || doc_id || '</file>' || chr(10) ||
         |  '      <path>/head[1]/lead[1]</path>' || chr(10) ||
         |  '      <rsv>' || printf('%.6f', s) || '</rsv>' || chr(10) || '    </result>' AS line
         |FROM rk ORDER BY rk""".stripMargin,

    "q_modifyfields" ->
      // the hand-derived constant token extents of the mfRepo fixture
      // (mk exact token, tl two tokens, sub with parent link, rd with
      // midpoint rounding on both edges)
      """WITH e AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
        |rows_ AS (
        |  SELECT doc_id, 'mk' AS field, 1 AS fbegin, 2 AS fend,
        |    (doc_id % 10)::BIGINT AS number, 1 AS ordinal,
        |    NULL::VARCHAR AS parent_field, 0 AS parent_ordinal FROM e
        |  UNION ALL
        |  SELECT doc_id, 'rd', 1, 3, 0::BIGINT, 1, NULL::VARCHAR, 0 FROM e
        |  UNION ALL
        |  SELECT doc_id, 'sub', 3, 5, 0::BIGINT, 1, 'mk', 1 FROM e
        |  UNION ALL
        |  SELECT doc_id, 'tl', 2, 4, 0::BIGINT, 1, NULL::VARCHAR, 0 FROM e
        |)
        |SELECT * FROM rows_ ORDER BY doc_id, field""".stripMargin,

    "q_offset_metadata" ->
      // rebuild the fixture file's surviving pairs in SQL: lines for
      // doc_id <= max/2 only (blank-line termination), origurl for
      // doc_id%3==0 with the FIRST value winning over the %9 duplicate,
      // LANG downcased, the docno-collision line skipped entirely
      """WITH m AS (SELECT max(doc_id) // 2 AS cutoff FROM documents)
        |SELECT 'r0/' || printf('%08d', doc_id) || '@c0' AS docno,
        |  CASE WHEN doc_id <= m.cutoff AND doc_id % 3 = 0
        |       THEN 'http://corpus.test/' || doc_id END AS origurl,
        |  CASE WHEN doc_id <= m.cutoff
        |       THEN CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'tr' END
        |  END AS lang,
        |  (CASE WHEN doc_id <= m.cutoff AND doc_id % 2 = 0
        |        THEN 1 ELSE 0 END)::BIGINT AS is_en
        |FROM documents CROSS JOIN m
        |ORDER BY docno""".stripMargin,

    "q_makeprior" ->
      // prior docs = doc_id%3==0 (the installed table); candidates =
      // prior-table docs ∪ 'data' docs; non-prior candidates carry the
      // dense −1e10 default and sink far below the top 20
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'data' GROUP BY doc_id
         |), ctf AS (
         |  SELECT count(*) AS ctf FROM tok WHERE term = 'data'
         |), cand AS (
         |  SELECT doc_id FROM dl WHERE doc_id % 3 = 0
         |  UNION
         |  SELECT doc_id FROM p
         |), sc AS (
         |  SELECT cand.doc_id,
         |    0.5 * ln((coalesce(p.tf, 0) + 2500.0 * ctf.ctf / st.tt) / (dl.doclen + 2500.0))
         |    + 0.5 * (CASE WHEN cand.doc_id % 3 = 0
         |             THEN ln(1.0 / (1.0 + cand.doc_id % 5)) ELSE -1e10 END) AS s
         |  FROM cand JOIN dl USING(doc_id) LEFT JOIN p USING(doc_id)
         |  CROSS JOIN st CROSS JOIN ctf
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    "q_dumpindex" ->
      s"""$DTok, ids AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS new_id
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, count(*) AS tf FROM tok
         |  WHERE term = 'merge' GROUP BY doc_id
         |)
         |SELECT ids.new_id AS doc_id, p.tf, (t.pos - 1)::BIGINT AS pos
         |FROM tok t JOIN p USING(doc_id) JOIN ids USING(doc_id)
         |WHERE t.term = 'merge' ORDER BY doc_id, pos""".stripMargin,

    // two half-builds merged offline == the whole-corpus build: same
    // dense ids (docno-ordered split), same postings — one oracle
    "q_dumpindex_merged" ->
      s"""$DTok, ids AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS new_id
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, count(*) AS tf FROM tok
         |  WHERE term = 'merge' GROUP BY doc_id
         |)
         |SELECT ids.new_id AS doc_id, p.tf, (t.pos - 1)::BIGINT AS pos
         |FROM tok t JOIN p USING(doc_id) JOIN ids USING(doc_id)
         |WHERE t.term = 'merge' ORDER BY doc_id, pos""".stripMargin,

    "q_dumpindex_dn" ->
      s"""WITH ids AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS new_id,
         |         'r0/' || printf('%08d', doc_id) || '@c0' AS docno
         |  FROM documents
         |)
         |SELECT new_id AS doc_id, docno FROM ids
         |WHERE new_id BETWEEN 1 AND 25 ORDER BY doc_id""".stripMargin,

    // the stored collection round-trips the raw text; docno rebuilds
    // from the %08d path convention
    "q_dumpindex_dt" ->
      s"""WITH ids AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS new_id,
         |         'r0/' || printf('%08d', doc_id) || '@c0' AS docno
         |  FROM documents
         |)
         |SELECT new_id AS doc_id, docno, text
         |FROM ids JOIN documents USING(doc_id)
         |WHERE new_id BETWEEN 1 AND 6 ORDER BY doc_id""".stripMargin,

    // tdv = indexed stems in position order, space-joined; the stored
    // repo uses the simple chain with no stopper, so every token slot
    // survives and the line is the tokenization itself
    "q_dumpindex_tdv" ->
      s"""$DTok, ids AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS new_id
         |  FROM documents
         |)
         |SELECT i.new_id AS doc_id, string_agg(t.term, ' ' ORDER BY t.pos) AS text
         |FROM tok t JOIN ids i USING(doc_id)
         |WHERE i.new_id BETWEEN 1 AND 8
         |GROUP BY i.new_id ORDER BY doc_id""".stripMargin,

    // a healthy repository passes every audit with zero violations
    "q_dumpindex_vtl" ->
      """SELECT * FROM (VALUES
        |  ('corpus_stats', true, 0::BIGINT),
        |  ('dense_docids', true, 0::BIGINT),
        |  ('dictionary_df_ctf', true, 0::BIGINT),
        |  ('positions_within_doclen', true, 0::BIGINT))
        |AS t("check", ok, violations) ORDER BY "check"""".stripMargin,

    "q_runquery_nexi" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM tok WHERE term = 'merge') AS cm
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data','merge')
         |), tfe AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS tfd,
         |    count(*) FILTER (WHERE term = 'merge' AND pos <= 10) AS tfm
         |  FROM tok WHERE doc_id IN (SELECT doc_id FROM cand) GROUP BY doc_id
         |), sc AS (
         |  SELECT t.doc_id, 0 AS b, least(10, dl.doclen) AS e,
         |    round(0.5 * ln((t.tfd + 2500.0 * cf.cd / st.tt) / (least(10, dl.doclen) + 2500.0))
         |        + 0.5 * ln((t.tfm + 2500.0 * cf.cm / st.tt) / (least(10, dl.doclen) + 2500.0)), 6) AS score
         |  FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |), r AS (
         |  SELECT doc_id, b, e, score,
         |    row_number() OVER (ORDER BY score DESC, doc_id, b) AS rk FROM sc
         |)
         |SELECT 'N1' AS query_number, rk, doc_id,
         |  printf('%.6f', score) || chr(9) || doc_id::VARCHAR || chr(9) ||
         |  b::VARCHAR || chr(9) || e::VARCHAR AS line
         |FROM r ORDER BY rk""".stripMargin,

    // two-level shrinkage with a rule on lead (weight .3 absolute) and
    // recursive down-mixing, closed-form per doc:
    //   up_d  = (mle_d·dlen)/dlen                      (no children)
    //   up_h  = (1−.3)·((mle_h·hlen)/hlen) + .3·up_d   (rule folds lead)
    //   down_h = (1−.2)·up_h + .2·pdoc                 (root level)
    //   down_d = (1−.2−.2)·up_d + .2·down_h + .2·pdoc  (recursive parent)
    //   p = (1−.4)·down_d + .4·cf; score = ½ln(p_data)+½ln(p_merge)
    "q_shrinkage_rules" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM tok WHERE term = 'merge') AS cm
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data','merge')
         |), tfx AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS hd,
         |    count(*) FILTER (WHERE term = 'merge' AND pos <= 10) AS hm,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 4) AS ld,
         |    count(*) FILTER (WHERE term = 'merge' AND pos <= 4) AS lm,
         |    count(*) FILTER (WHERE term = 'data') AS ad,
         |    count(*) FILTER (WHERE term = 'merge') AS am
         |  FROM tok WHERE doc_id IN (SELECT doc_id FROM cand) GROUP BY doc_id
         |), m AS (
         |  SELECT t.doc_id, least(4, dl.doclen) AS dlen,
         |    least(10, dl.doclen) AS hlen, dl.doclen AS L,
         |    t.hd::DOUBLE / least(10, dl.doclen) AS mhd,
         |    t.hm::DOUBLE / least(10, dl.doclen) AS mhm,
         |    t.ld::DOUBLE / least(4, dl.doclen) AS mld,
         |    t.lm::DOUBLE / least(4, dl.doclen) AS mlm,
         |    (1 - 0.4) * (t.ad::DOUBLE / dl.doclen) + 0.4 * (cf.cd / st.tt) AS pdd,
         |    (1 - 0.4) * (t.am::DOUBLE / dl.doclen) + 0.4 * (cf.cm / st.tt) AS pdm,
         |    cf.cd / st.tt AS cfd, cf.cm / st.tt AS cfm
         |  FROM tfx t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |), u AS (
         |  SELECT doc_id, dlen, cfd, cfm, pdd, pdm,
         |    (mld * dlen) / dlen AS upd_d, (mlm * dlen) / dlen AS upd_m,
         |    (1 - 0.3) * ((mhd * hlen) / hlen) + 0.3 * ((mld * dlen) / dlen) AS uph_d,
         |    (1 - 0.3) * ((mhm * hlen) / hlen) + 0.3 * ((mlm * dlen) / dlen) AS uph_m
         |  FROM m
         |), dn AS (
         |  SELECT doc_id, dlen, cfd, cfm,
         |    (1 - 0.2 - 0.2) * upd_d + 0.2 * ((1 - 0.2) * uph_d + 0.2 * pdd) + 0.2 * pdd AS dd,
         |    (1 - 0.2 - 0.2) * upd_m + 0.2 * ((1 - 0.2) * uph_m + 0.2 * pdm) + 0.2 * pdm AS dm
         |  FROM u
         |)
         |SELECT doc_id, 0::BIGINT AS "begin", dlen::BIGINT AS "end",
         |  round(0.5 * ln((1 - 0.4) * dd + 0.4 * cfd)
         |      + 0.5 * ln((1 - 0.4) * dm + 0.4 * cfm), 6) AS score
         |FROM dn ORDER BY doc_id, "begin"""".stripMargin,

    // numeric predicate: occ = 1 iff n_chars<300 AND the whole-doc nchars
    // extent fits in head (doclen ≤ 10); collection stats = #matching
    // extents corpus-wide; score = ½ln(d(data|head)) + ½ln(d_num)
    "q_nexi_num" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM documents WHERE n_chars < 300) AS cn
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term = 'data'
         |  UNION
         |  SELECT doc_id FROM documents WHERE n_chars < 300
         |), tfe AS (
         |  SELECT doc_id, count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS hd
         |  FROM tok GROUP BY doc_id
         |), oc AS (
         |  SELECT d2.doc_id,
         |    CASE WHEN d2.n_chars < 300 AND dl.doclen <= 10 THEN 1 ELSE 0 END AS occ
         |  FROM documents d2 JOIN dl ON dl.doc_id = d2.doc_id
         |)
         |SELECT c.doc_id, 0::BIGINT AS "begin", least(10, dl.doclen)::BIGINT AS "end",
         |  round((1.0 * ln((coalesce(t.hd, 0) + 2500.0 * (CASE WHEN cf.cd <> 0 THEN cf.cd/st.tt ELSE 1.0/(st.tt*2.0) END)) / (least(10, dl.doclen) + 2500.0))) / 2
         |      + (1.0 * ln((oc.occ + 2500.0 * (CASE WHEN cf.cn <> 0 THEN cf.cn/st.tt ELSE 1.0/(st.tt*2.0) END)) / (least(10, dl.doclen) + 2500.0))) / 2, 6) AS score
         |FROM cand c
         |JOIN dl ON dl.doc_id = c.doc_id
         |JOIN oc ON oc.doc_id = c.doc_id
         |LEFT JOIN tfe t ON t.doc_id = c.doc_id
         |CROSS JOIN st CROSS JOIN cf
         |ORDER BY c.doc_id, "begin"""".stripMargin,

    // phrase leaf: the "data merge" adjacency matches play the tf role
    // — a phrase start at 1-based pos p is contained in the head extent
    // [0, min(10, doclen)) iff p+1 ≤ 10 (p+1 ≤ doclen holds because the
    // second word exists) — with the WINDOW's collection stats; ½ + ½
    // fold with the plain 'window' child exactly as the engine computes
    "q_nexi_phrase" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), ph AS (
         |  SELECT a.doc_id, a.pos FROM tok a JOIN tok b
         |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE a.term = 'data' AND b.term = 'merge'
         |), cf AS (
         |  SELECT (SELECT count(*) FROM ph) AS cp,
         |         (SELECT count(*) FROM tok WHERE term = 'window') AS cw
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term = 'window'
         |  UNION
         |  SELECT DISTINCT doc_id FROM ph
         |), tfe AS (
         |  SELECT c.doc_id,
         |    (SELECT count(*) FROM ph WHERE ph.doc_id = c.doc_id AND ph.pos + 1 <= 10) AS tfp,
         |    (SELECT count(*) FROM tok t WHERE t.doc_id = c.doc_id
         |       AND t.term = 'window' AND t.pos <= 10) AS tfw
         |  FROM cand c
         |)
         |SELECT t.doc_id, 0::BIGINT AS "begin", least(10, dl.doclen)::BIGINT AS "end",
         |  round(0.5 * ln((t.tfp + 2500.0 * cf.cp / st.tt) / (least(10, dl.doclen) + 2500.0))
         |      + 0.5 * ln((t.tfw + 2500.0 * cf.cw / st.tt) / (least(10, dl.doclen) + 2500.0)), 6) AS score
         |FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |ORDER BY t.doc_id, "begin"""".stripMargin,

    // negated leaf: NotNode belief ln(1 − p_slow) where p_slow is the
    // dirichlet probability of 'slow' in the head context
    // (src/NotNode.cpp:53); candidates = docs with EITHER term
    "q_nexi_not" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM tok WHERE term = 'slow') AS cs
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data', 'slow')
         |), tfe AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS tfd,
         |    count(*) FILTER (WHERE term = 'slow' AND pos <= 10) AS tfs
         |  FROM tok WHERE doc_id IN (SELECT doc_id FROM cand) GROUP BY doc_id
         |)
         |SELECT t.doc_id, 0::BIGINT AS "begin", least(10, dl.doclen)::BIGINT AS "end",
         |  round(0.5 * ln((t.tfd + 2500.0 * cf.cd / st.tt) / (least(10, dl.doclen) + 2500.0))
         |      + 0.5 * ln(1.0 - exp(ln((t.tfs + 2500.0 * cf.cs / st.tt) / (least(10, dl.doclen) + 2500.0)))), 6) AS score
         |FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |ORDER BY t.doc_id, "begin"""".stripMargin,

    // relative about: head extents score max over nested lead extents
    // (exactly one per doc) of ln(d(query|lead)); candidates = docs
    // containing 'query' (the clause's only live term)
    "q_nexi_rel" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'query') AS cq
         |), tfe AS (
         |  SELECT doc_id, count(*) FILTER (WHERE term = 'query' AND pos <= 4) AS lq
         |  FROM tok WHERE doc_id IN (SELECT DISTINCT doc_id FROM tok WHERE term = 'query')
         |  GROUP BY doc_id
         |)
         |SELECT t.doc_id, 0::BIGINT AS "begin", least(10, dl.doclen)::BIGINT AS "end",
         |  round(1.0 * ln((t.lq + 2500.0 * cf.cq / st.tt) / (least(4, dl.doclen) + 2500.0)), 6) AS score
         |FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |ORDER BY t.doc_id, "begin"""".stripMargin,

    // boolean clause with a relative filter: per head extent,
    // ½·[max over contained lead extents of ln(d(query|lead))] +
    // ½·ln(d(data|head)); every doc has exactly one lead inside head,
    // so the MaxNode is that single lead belief; candidates = docs
    // with EITHER term
    "q_nexi_rel_bool" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'query') AS cq,
         |         (SELECT count(*) FROM tok WHERE term = 'data') AS cd
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('query', 'data')
         |), tfe AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'query' AND pos <= 4) AS lq,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS hd
         |  FROM tok WHERE doc_id IN (SELECT doc_id FROM cand) GROUP BY doc_id
         |)
         |SELECT t.doc_id, 0::BIGINT AS "begin", least(10, dl.doclen)::BIGINT AS "end",
         |  round(0.5 * ln((t.lq + 2500.0 * cf.cq / st.tt) / (least(4, dl.doclen) + 2500.0))
         |      + 0.5 * ln((t.hd + 2500.0 * cf.cd / st.tt) / (least(10, dl.doclen) + 2500.0)), 6) AS score
         |FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |ORDER BY t.doc_id, "begin"""".stripMargin,

    // relative about + numeric in one boolean clause: per head extent,
    // ½·[max over contained lead extents of ln(d(query|lead))] +
    // ½·ln(d(occ | head)) where occ counts nchars extents (whole-doc)
    // that match < 300 AND are contained (doclen ≤ 10); candidates =
    // docs with 'query' OR a matching nchars extent; every doc's lead
    // sits inside head so the MaxNode branch is always defined
    "q_nexi_mixed" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'query') AS cq,
         |         (SELECT count(*) FROM documents WHERE n_chars < 300) AS cn
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term = 'query'
         |  UNION
         |  SELECT doc_id FROM documents WHERE n_chars < 300
         |), tfe AS (
         |  SELECT doc_id, count(*) FILTER (WHERE term = 'query' AND pos <= 4) AS lq
         |  FROM tok GROUP BY doc_id
         |), oc AS (
         |  SELECT d2.doc_id,
         |    CASE WHEN d2.n_chars < 300 AND dl.doclen <= 10 THEN 1 ELSE 0 END AS occ
         |  FROM documents d2 JOIN dl ON dl.doc_id = d2.doc_id
         |)
         |SELECT c.doc_id, 0::BIGINT AS "begin", least(10, dl.doclen)::BIGINT AS "end",
         |  round((1.0 * ln((coalesce(t.lq, 0) + 2500.0 * cf.cq / st.tt) / (least(4, dl.doclen) + 2500.0))) / 2
         |      + (1.0 * ln((oc.occ + 2500.0 * (CASE WHEN cf.cn <> 0 THEN cf.cn/st.tt ELSE 1.0/(st.tt*2.0) END)) / (least(10, dl.doclen) + 2500.0))) / 2, 6) AS score
         |FROM cand c
         |JOIN dl ON dl.doc_id = c.doc_id
         |JOIN oc ON oc.doc_id = c.doc_id
         |LEFT JOIN tfe t ON t.doc_id = c.doc_id
         |CROSS JOIN st CROSS JOIN cf
         |ORDER BY c.doc_id, "begin"""".stripMargin,

    // mixed-leaf parenthesized nesting: s0 = rel-about belief over the
    // lead extent, s1 = numeric occurrence belief (whole-doc nchars
    // extent contained in head iff doclen ≤ 10), s2 = plain about
    // belief over head; score = or(s0,s1)/2 + s2/2 with
    // or(x,y) = ln(1−(1−e^x)(1−e^y))
    "q_nexi_tree" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'query') AS cq,
         |         (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM documents WHERE n_chars < 300) AS cn
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('query','data')
         |  UNION
         |  SELECT doc_id FROM documents WHERE n_chars < 300
         |), tfe AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'query' AND pos <= 4) AS lq,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS hd
         |  FROM tok GROUP BY doc_id
         |), oc AS (
         |  SELECT d2.doc_id,
         |    CASE WHEN d2.n_chars < 300 AND dl.doclen <= 10 THEN 1 ELSE 0 END AS occ
         |  FROM documents d2 JOIN dl ON dl.doc_id = d2.doc_id
         |), gs AS (
         |  SELECT c.doc_id, dl.doclen,
         |    ln((coalesce(t.lq, 0) + 2500.0 * cf.cq / st.tt) / (least(4, dl.doclen) + 2500.0)) AS s0,
         |    ln((oc.occ + 2500.0 * (CASE WHEN cf.cn <> 0 THEN cf.cn/st.tt ELSE 1.0/(st.tt*2.0) END)) / (least(10, dl.doclen) + 2500.0)) AS s1,
         |    ln((coalesce(t.hd, 0) + 2500.0 * cf.cd / st.tt) / (least(10, dl.doclen) + 2500.0)) AS s2
         |  FROM cand c
         |  JOIN dl ON dl.doc_id = c.doc_id
         |  JOIN oc ON oc.doc_id = c.doc_id
         |  LEFT JOIN tfe t ON t.doc_id = c.doc_id
         |  CROSS JOIN st CROSS JOIN cf
         |)
         |SELECT doc_id, 0::BIGINT AS "begin", least(10, doclen)::BIGINT AS "end",
         |  round(ln(1.0 - (1.0 - exp(s0)) * (1.0 - exp(s1))) / 2 + s2 / 2, 6) AS score
         |FROM gs ORDER BY doc_id, "begin"""".stripMargin,

    // general two-level CAS with a mixed first level: rows = lead
    // extents [0, least(4, dl)); score = [dir(data|head) +
    // dir(numeric occ|head)]/2 + dir(query|lead), occ = 1 iff the
    // whole-doc nchars extent matches AND fits the head (dl ≤ 10)
    "q_nexi_nested_mixed" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'query') AS cq,
         |         (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM documents WHERE n_chars < 300) AS cn
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('query','data')
         |  UNION
         |  SELECT doc_id FROM documents WHERE n_chars < 300
         |), tfe AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'query' AND pos <= 4) AS lq,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS hd
         |  FROM tok GROUP BY doc_id
         |), oc AS (
         |  SELECT d2.doc_id,
         |    CASE WHEN d2.n_chars < 300 AND dl.doclen <= 10 THEN 1 ELSE 0 END AS occ
         |  FROM documents d2 JOIN dl ON dl.doc_id = d2.doc_id
         |), gs AS (
         |  SELECT c.doc_id, dl.doclen,
         |    ln((coalesce(t.hd, 0) + 2500.0 * cf.cd / st.tt) / (least(10, dl.doclen) + 2500.0)) AS s0,
         |    ln((oc.occ + 2500.0 * (CASE WHEN cf.cn <> 0 THEN cf.cn/st.tt ELSE 1.0/(st.tt*2.0) END)) / (least(10, dl.doclen) + 2500.0)) AS s1,
         |    ln((coalesce(t.lq, 0) + 2500.0 * cf.cq / st.tt) / (least(4, dl.doclen) + 2500.0)) AS s2
         |  FROM cand c
         |  JOIN dl ON dl.doc_id = c.doc_id
         |  JOIN oc ON oc.doc_id = c.doc_id
         |  LEFT JOIN tfe t ON t.doc_id = c.doc_id
         |  CROSS JOIN st CROSS JOIN cf
         |)
         |SELECT doc_id, 0::BIGINT AS "begin", least(4, doclen)::BIGINT AS "end",
         |  round((s0 + s1) / 2 + s2, 6) AS score
         |FROM gs ORDER BY doc_id, "begin"""".stripMargin,

    // two-level CAS: s = [½ln(d(data|head)) + ½ln(d(merge|head))]
    //                  + ln(d(query|lead)), rows = lead extents
    "q_nexi_nested" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM tok WHERE term = 'merge') AS cm,
         |         (SELECT count(*) FROM tok WHERE term = 'query') AS cq
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data','merge','query')
         |), tfe AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS hd,
         |    count(*) FILTER (WHERE term = 'merge' AND pos <= 10) AS hm,
         |    count(*) FILTER (WHERE term = 'query' AND pos <= 4) AS lq
         |  FROM tok WHERE doc_id IN (SELECT doc_id FROM cand) GROUP BY doc_id
         |)
         |SELECT t.doc_id, 0::BIGINT AS "begin", least(4, dl.doclen)::BIGINT AS "end",
         |  round((0.5 * ln((t.hd + 2500.0 * cf.cd / st.tt) / (least(10, dl.doclen) + 2500.0))
         |       + 0.5 * ln((t.hm + 2500.0 * cf.cm / st.tt) / (least(10, dl.doclen) + 2500.0)))
         |       + 1.0 * ln((t.lq + 2500.0 * cf.cq / st.tt) / (least(4, dl.doclen) + 2500.0)), 6) AS score
         |FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |ORDER BY t.doc_id, "begin"""".stripMargin,

    // boolean NEXI: g1 = ½ln(d_data)+½ln(d_merge), g2 = ln(d_query)
    // inside the head extent; and → (g1/2 + g2/2), or → ln(1−(1−e^g1)(1−e^g2))
    "q_nexi_bool" -> nexiBoolSql(orFold = false),
    "q_nexi_or" -> nexiBoolSql(orFold = true),

    // parenthesized nesting: g0/g1/g2 = single-term dirichlet beliefs
    // over the head extent; score = or(g0,g1)/2 + g2/2 with
    // or(x,y) = ln(1−(1−e^x)(1−e^y))
    "q_nexi_paren" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM tok WHERE term = 'merge') AS cm,
         |         (SELECT count(*) FROM tok WHERE term = 'query') AS cq
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data','merge','query')
         |), tfe AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term = 'data' AND pos <= 10) AS tfd,
         |    count(*) FILTER (WHERE term = 'merge' AND pos <= 10) AS tfm,
         |    count(*) FILTER (WHERE term = 'query' AND pos <= 10) AS tfq
         |  FROM tok WHERE doc_id IN (SELECT doc_id FROM cand) GROUP BY doc_id
         |), g AS (
         |  SELECT t.doc_id, least(10, dl.doclen) AS hl,
         |    ln((t.tfd + 2500.0 * cf.cd / st.tt) / (least(10, dl.doclen) + 2500.0)) AS g0,
         |    ln((t.tfm + 2500.0 * cf.cm / st.tt) / (least(10, dl.doclen) + 2500.0)) AS g1,
         |    ln((t.tfq + 2500.0 * cf.cq / st.tt) / (least(10, dl.doclen) + 2500.0)) AS g2
         |  FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |)
         |SELECT doc_id, 0::BIGINT AS "begin", hl::BIGINT AS "end",
         |  round(ln(1.0 - (1.0 - exp(g0)) * (1.0 - exp(g1))) / 2 + g2 / 2, 6) AS score
         |FROM g ORDER BY doc_id, "begin"""".stripMargin,

    // three-level path: rows = kick extents of the doc_id%3==0 docs only
    // (the %3==1 docs' kick→head chain skips lead); single-term belief
    // in the kick context [0, min(2, doclen))
    "q_nexi_deep" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd
         |), tfe AS (
         |  SELECT doc_id, count(*) FILTER (WHERE term = 'data' AND pos <= 2) AS tfd
         |  FROM tok WHERE doc_id IN (SELECT DISTINCT doc_id FROM tok WHERE term = 'data')
         |  GROUP BY doc_id
         |)
         |SELECT t.doc_id, 0::BIGINT AS "begin", least(2, dl.doclen)::BIGINT AS "end",
         |  round(1.0 * ln((t.tfd + 2500.0 * cf.cd / st.tt) / (least(2, dl.doclen) + 2500.0)), 6) AS score
         |FROM tfe t JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN cf
         |WHERE t.doc_id % 3 = 0
         |ORDER BY t.doc_id, "begin"""".stripMargin,

    "q_incremental_build" ->
      s"""$DTok, p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id
         |)
         |SELECT p.term, count(*) AS df, sum(p.tf)::BIGINT AS ctf,
         |       max(dl.doclen) AS max_dl, min(dl.doclen) AS min_dl
         |FROM p JOIN dl USING(doc_id)
         |GROUP BY p.term ORDER BY p.term""".stripMargin,

    "q_kba_filter" -> {
      val e1 = Seq("data", "merge"); val e2 = Seq("query", "join")
      def qScore(terms: Seq[String], qid: String) =
        s"""SELECT dl.doc_id, '$qid' AS qid,
           |  coalesce(sum( ln((st.n - ts.df + 0.5) / (ts.df + 0.5))
           |    * p.tf / (p.tf + 0.4375 + (1.3125 / (st.tt / st.n)) * dl.doclen) ), 0.0) AS s
           |FROM dl CROSS JOIN st
           |LEFT JOIN (SELECT doc_id, term, count(*) AS tf FROM tok
           |           WHERE term IN ${inList(terms)} GROUP BY doc_id, term) p
           |  ON p.doc_id = dl.doc_id
           |LEFT JOIN (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term) ts
           |  ON ts.term = p.term
           |GROUP BY dl.doc_id, st.n, st.tt""".stripMargin
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), u AS (
         |${qScore(e1, "e1")}
         |UNION ALL
         |${qScore(e2, "e2")}
         |)
         |SELECT doc_id, qid, round(s, 6) AS score FROM u ORDER BY doc_id, qid""".stripMargin
    },

    // five-model KBA stream scoring (StreamThread scorer list); the CTE
    // mirrors createMinimalParsedStream token rules (title unfiltered,
    // body len>2 + stop set), the int-truncated averageDocSize, and the
    // per-entity parameter algebra of KbaScorers.scoreStreams
    "q_kba_stream_scores" ->
      s"""$KbaStreamCte
        |SELECT doc_id, entity, model, round(s, 6) AS score, trunc(s)::BIGINT AS score_int
        |FROM st WHERE trunc(s) > -99999
        |ORDER BY doc_id, entity, model""".stripMargin,

    // ResultPool retention (top poolSz per entity×model with the
    // initScore cutoff) + publishResult dump lines
    "q_kba_pool" ->
      s"""$KbaStreamCte, cut(model, cutoff) AS (
        |  VALUES ('BM25', 0), ('BM25Ext', 0), ('LanguageModel', -10000),
        |         ('LanguageModelExt', -10000), ('KLDivergence', -10000)
        |), si AS (
        |  SELECT st.doc_id, st.entity, st.model, trunc(st.s)::BIGINT AS score_int
        |  FROM st JOIN cut USING(model) WHERE trunc(st.s) > cut.cutoff
        |), rk AS (
        |  SELECT doc_id, entity, model, score_int,
        |    row_number() OVER (PARTITION BY entity, model
        |                       ORDER BY score_int DESC, doc_id) AS rk
        |  FROM si
        |)
        |SELECT entity, model, rk,
        |  'd' || doc_id || ' ' || entity || ' ' || score_int || ' day1 ' || model AS line
        |FROM rk WHERE rk <= 100 ORDER BY entity, model, rk""".stripMargin,


    // FilterThread LM-passage rerank: dirichlet retrieval (mean-of-logs
    // #combine) + whole-document LanguageModelPsg rescore at mu=2500
    // (the ignored-ctor-argument quirk); psgSz = doclen because the
    // fixture analyzer has no stopwords (no [OOV] slots to drop)
    "q_kba_lm_psg" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ('data','merge','query','join') GROUP BY term, doc_id
         |), ctf AS (
         |  SELECT term, count(*) AS ctf FROM tok
         |  WHERE term IN ('data','merge','query','join') GROUP BY term
         |), q(qid, term) AS (
         |  VALUES ('e1','data'),('e1','merge'),('e2','query'),('e2','join')
         |), cand AS (
         |  SELECT DISTINCT q.qid, p.doc_id FROM q JOIN p USING(term)
         |), grid AS (
         |  SELECT c.qid, c.doc_id, q.term, coalesce(p.tf, 0) AS tf, t.ctf
         |  FROM cand c JOIN q ON q.qid = c.qid JOIN ctf t ON t.term = q.term
         |  LEFT JOIN p ON p.doc_id = c.doc_id AND p.term = q.term
         |), sc AS (
         |  SELECT g.qid, g.doc_id,
         |    sum(ln((g.tf + 2500.0 * g.ctf / st.tt) / (dl.doclen + 2500.0))) / 2 AS isc,
         |    sum(ln(g.tf + 2500.0 * g.ctf / st.tt) - ln(dl.doclen + 2500.0)) AS psc
         |  FROM grid g JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY g.qid, g.doc_id
         |)
         |SELECT doc_id, qid, round(psc, 6) AS psg_score, round(isc, 6) AS indri_score
         |FROM sc ORDER BY qid, doc_id""".stripMargin,

    // webtrack max-passage rerank: chunk k covers filtered-token range
    // [k·stride, k·stride+P) with the final flush chunk running to the
    // end; per-chunk dirichlet LM; best chunk per doc; ranks on the
    // rounded score (the reference's std::sort is unstable on ties —
    // docId asc is the deterministic stand-in both engines use)
    "q_webtrack_psg" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT term, doc_id FROM tok
         |  WHERE term IN ('data','merge','query','join') GROUP BY term, doc_id
         |), ctf AS (
         |  SELECT term, count(*) AS ctf FROM tok
         |  WHERE term IN ('data','merge','query','join') GROUP BY term
         |), q(qid, term) AS (
         |  VALUES ('e1','data'),('e1','merge'),('e2','query'),('e2','join')
         |), cand AS (
         |  SELECT DISTINCT q.qid, p.doc_id FROM q JOIN p USING(term)
         |), wt AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'),
         |                t -> len(t) > 1 AND t NOT IN ('the','a')) AS toks
         |  FROM documents
         |), ck AS (
         |  SELECT doc_id, toks, len(toks) AS n,
         |    CASE WHEN len(toks) > 40
         |         THEN floor((len(toks) - 41.0) / 30.0)::BIGINT + 1 ELSE 0 END AS f
         |  FROM wt WHERE len(toks) > 0
         |), chunks AS (
         |  SELECT doc_id, unnest(range(0, f + 1)) AS k, toks, n, f FROM ck
         |), sliced AS (
         |  SELECT doc_id, k, toks[(k*30 + 1):(CASE WHEN k < f THEN k*30 + 40 ELSE n END)] AS ctoks,
         |    (CASE WHEN k < f THEN k*30 + 40 ELSE n END) - k*30 AS clen
         |  FROM chunks
         |), csc AS (
         |  SELECT s2.doc_id, q.qid, s2.k,
         |    sum( ln(len(list_filter(s2.ctoks, x -> x = q.term)) + 2500.0 * c.ctf / st.tt)
         |         - ln(s2.clen + 2500.0) ) AS s
         |  FROM sliced s2 CROSS JOIN st
         |  JOIN q ON true JOIN ctf c ON c.term = q.term
         |  GROUP BY s2.doc_id, q.qid, s2.k
         |), best AS (
         |  SELECT c2.doc_id, c2.qid, round(max(c2.s), 6) AS score
         |  FROM csc c2 JOIN cand ON cand.doc_id = c2.doc_id AND cand.qid = c2.qid
         |  GROUP BY c2.doc_id, c2.qid
         |)
         |SELECT doc_id, qid, score,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |FROM best ORDER BY qid, doc_id""".stripMargin,

    // IndriRunQuery postProcess variant: passages over DOC VECTORS — the
    // index token space directly (the fixture analyzer stops nothing, so
    // the vector is the full position-ordered token list)
    "q_webtrack_maxpsg_dv" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT term, doc_id FROM tok
         |  WHERE term IN ('data','merge','query','join') GROUP BY term, doc_id
         |), ctf AS (
         |  SELECT term, count(*) AS ctf FROM tok
         |  WHERE term IN ('data','merge','query','join') GROUP BY term
         |), q(qid, term) AS (
         |  VALUES ('e1','data'),('e1','merge'),('e2','query'),('e2','join')
         |), cand AS (
         |  SELECT DISTINCT q.qid, p.doc_id FROM q JOIN p USING(term)
         |), wt AS (
         |  SELECT doc_id, list(term ORDER BY pos) AS toks FROM tok GROUP BY doc_id
         |), ck AS (
         |  SELECT doc_id, toks, len(toks) AS n,
         |    CASE WHEN len(toks) > 40
         |         THEN floor((len(toks) - 41.0) / 30.0)::BIGINT + 1 ELSE 0 END AS f
         |  FROM wt WHERE len(toks) > 0
         |), chunks AS (
         |  SELECT doc_id, unnest(range(0, f + 1)) AS k, toks, n, f FROM ck
         |), sliced AS (
         |  SELECT doc_id, k, toks[(k*30 + 1):(CASE WHEN k < f THEN k*30 + 40 ELSE n END)] AS ctoks,
         |    (CASE WHEN k < f THEN k*30 + 40 ELSE n END) - k*30 AS clen
         |  FROM chunks
         |), csc AS (
         |  SELECT s2.doc_id, q.qid, s2.k,
         |    sum( ln(len(list_filter(s2.ctoks, x -> x = q.term)) + 2500.0 * c.ctf / st.tt)
         |         - ln(s2.clen + 2500.0) ) AS s
         |  FROM sliced s2 CROSS JOIN st
         |  JOIN q ON true JOIN ctf c ON c.term = q.term
         |  GROUP BY s2.doc_id, q.qid, s2.k
         |), best AS (
         |  SELECT c2.doc_id, c2.qid, round(max(c2.s), 6) AS score
         |  FROM csc c2 JOIN cand ON cand.doc_id = c2.doc_id AND cand.qid = c2.qid
         |  GROUP BY c2.doc_id, c2.qid
         |)
         |SELECT doc_id, qid, score,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |FROM best ORDER BY qid, doc_id""".stripMargin,

    // clue.cc dumpResult run-file lines over the doc-vector rerank:
    // printf('%g') = C++ default-ostream double text on the rounded
    // score both engines rank on; '  ' = the reference's double space
    "q_webtrack_dump" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT term, doc_id FROM tok
         |  WHERE term IN ('data','merge','query','join') GROUP BY term, doc_id
         |), ctf AS (
         |  SELECT term, count(*) AS ctf FROM tok
         |  WHERE term IN ('data','merge','query','join') GROUP BY term
         |), q(qid, term) AS (
         |  VALUES ('e1','data'),('e1','merge'),('e2','query'),('e2','join')
         |), cand AS (
         |  SELECT DISTINCT q.qid, p.doc_id FROM q JOIN p USING(term)
         |), wt AS (
         |  SELECT doc_id, list(term ORDER BY pos) AS toks FROM tok GROUP BY doc_id
         |), ck AS (
         |  SELECT doc_id, toks, len(toks) AS n,
         |    CASE WHEN len(toks) > 40
         |         THEN floor((len(toks) - 41.0) / 30.0)::BIGINT + 1 ELSE 0 END AS f
         |  FROM wt WHERE len(toks) > 0
         |), chunks AS (
         |  SELECT doc_id, unnest(range(0, f + 1)) AS k, toks, n, f FROM ck
         |), sliced AS (
         |  SELECT doc_id, k, toks[(k*30 + 1):(CASE WHEN k < f THEN k*30 + 40 ELSE n END)] AS ctoks,
         |    (CASE WHEN k < f THEN k*30 + 40 ELSE n END) - k*30 AS clen
         |  FROM chunks
         |), csc AS (
         |  SELECT s2.doc_id, q.qid, s2.k,
         |    sum( ln(len(list_filter(s2.ctoks, x -> x = q.term)) + 2500.0 * c.ctf / st.tt)
         |         - ln(s2.clen + 2500.0) ) AS s
         |  FROM sliced s2 CROSS JOIN st
         |  JOIN q ON true JOIN ctf c ON c.term = q.term
         |  GROUP BY s2.doc_id, q.qid, s2.k
         |), best AS (
         |  SELECT c2.doc_id, c2.qid, round(max(c2.s), 6) AS score
         |  FROM csc c2 JOIN cand ON cand.doc_id = c2.doc_id AND cand.qid = c2.qid
         |  GROUP BY c2.doc_id, c2.qid
         |), rkd AS (
         |  SELECT doc_id, qid, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |  FROM best
         |)
         |SELECT qid, rank,
         |  qid || ' Q0 d' || doc_id || '  ' || rank || ' ' || printf('%g', score) || ' test' AS line
         |FROM rkd ORDER BY qid, rank""".stripMargin,

    // dumpKbaResult pq dump lines over the LM passage rerank: top-100
    // per qid by INT psg score (trunc), docId asc on int ties
    "q_kba_dump" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ('data','merge','query','join') GROUP BY term, doc_id
         |), ctf AS (
         |  SELECT term, count(*) AS ctf FROM tok
         |  WHERE term IN ('data','merge','query','join') GROUP BY term
         |), q(qid, term) AS (
         |  VALUES ('e1','data'),('e1','merge'),('e2','query'),('e2','join')
         |), cand AS (
         |  SELECT DISTINCT q.qid, p.doc_id FROM q JOIN p USING(term)
         |), grid AS (
         |  SELECT c.qid, c.doc_id, q.term, coalesce(p.tf, 0) AS tf, t.ctf
         |  FROM cand c JOIN q ON q.qid = c.qid JOIN ctf t ON t.term = q.term
         |  LEFT JOIN p ON p.doc_id = c.doc_id AND p.term = q.term
         |), sc AS (
         |  SELECT g.qid, g.doc_id,
         |    sum(ln((g.tf + 2500.0 * g.ctf / st.tt) / (dl.doclen + 2500.0))) / 2 AS isc,
         |    sum(ln(g.tf + 2500.0 * g.ctf / st.tt) - ln(dl.doclen + 2500.0)) AS psc
         |  FROM grid g JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY g.qid, g.doc_id
         |), ri AS (
         |  SELECT doc_id, qid, trunc(round(psc, 6))::BIGINT AS pi,
         |    trunc(round(isc, 6))::BIGINT AS ii
         |  FROM sc
         |), rkd AS (
         |  SELECT doc_id, qid, pi, ii,
         |    row_number() OVER (PARTITION BY qid ORDER BY pi DESC, doc_id) AS rk
         |  FROM ri
         |)
         |SELECT qid, rk,
         |  'udel run7 d' || doc_id || ' ' || qid || ' 1000 2 1 2012-05-05 NULL -1 0-0  ' || pi || ' ' || ii AS line
         |FROM rkd WHERE rk <= 100 ORDER BY qid, rk""".stripMargin,

    // dumpDayStat: per-day doclen sums → 5-day sliding window, integer
    // division, %g text (printf('%g') == the g++-pinned cppDouble)
    "q_kba_daystat" ->
      s"""$DTok, byday AS (
         |  SELECT '2012-10-' || lpad(((doc_id % 9) + 1)::VARCHAR, 2, '0') AS day,
         |         sum(doclen)::BIGINT AS tc, count(*)::BIGINT AS dc
         |  FROM dl GROUP BY 1
         |), win AS (
         |  SELECT day,
         |    sum(tc) OVER (ORDER BY day ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS wt,
         |    sum(dc) OVER (ORDER BY day ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS wd,
         |    row_number() OVER (ORDER BY day) AS rn
         |  FROM byday
         |)
         |SELECT day,
         |  '/idx/' || day || ',past-5-day,' || printf('%g', (wt // wd)::DOUBLE) AS line
         |FROM win WHERE rn > 5 ORDER BY day""".stripMargin,

    // HighRecallInfo: the oracle derives the expected parsed rows from
    // the same doc_id arithmetic the Spark side uses to BUILD the lines
    // — an independent path around the split/strtol parse
    "q_kba_recall" ->
      """SELECT (doc_id * 1000 + 1325376000)::BIGINT AS s_time,
        |       'doc' || doc_id::VARCHAR AS doc_id,
        |       '2012-10-' || lpad(((doc_id % 9) + 1)::VARCHAR, 2, '0') AS directory
        |FROM documents WHERE (doc_id * 37) % 1000 > 300
        |ORDER BY s_time""".stripMargin,

    "q_field_restrict" ->
      s"""$DTok
         |SELECT doc_id, count(*) AS tf FROM tok
         |WHERE term = 'data' AND pos <= 10
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // ExtentAnd(head [0,10), lead [0,4)) intersects to the nested lead
    "q_field_list" ->
      s"""$DTok
         |SELECT doc_id, count(*) AS tf FROM tok
         |WHERE term = 'data' AND pos <= 4
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // data.(head): per-doc length = head length, background =
    // data-in-head / total head length; every doc with a head extent is
    // a candidate (zero-match docs score fn(0, ctxLen))
    "q_context_restrict" ->
      s"""$DTok, hd AS (
         |  SELECT doc_id, least(10, doclen) AS ctx FROM dl WHERE doclen > 0
         |), occ AS (
         |  SELECT t.doc_id, count(*) AS c FROM tok t JOIN hd ON hd.doc_id = t.doc_id
         |  WHERE t.term = 'data' AND t.pos <= hd.ctx
         |  GROUP BY t.doc_id
         |), st AS (
         |  SELECT (SELECT coalesce(sum(c), 0) FROM occ)::DOUBLE AS o,
         |         (SELECT sum(ctx) FROM hd)::DOUBLE AS cs
         |), sc AS (
         |  SELECT hd.doc_id,
         |    ln((coalesce(occ.c, 0) + 2500.0 * (CASE WHEN st.o <> 0 THEN st.o/st.cs ELSE 1.0/(st.cs*2.0) END))
         |       / (hd.ctx + 2500.0)) AS s
         |  FROM hd LEFT JOIN occ ON occ.doc_id = hd.doc_id CROSS JOIN st
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    // rule list: the head-context leaf takes mu 500 (field:head), the
    // plain leaf keeps the catch-all mu 2500; candidates = docs with a
    // head context ∪ docs containing data; headless docs take the
    // context leaf's fn(0,0)
    "q_rule_selectors" ->
      s"""$DTok, hd AS (
         |  SELECT doc_id, least(10, doclen) AS ctx FROM dl WHERE doclen > 0
         |), occ AS (
         |  SELECT t.doc_id, count(*) AS c FROM tok t JOIN hd ON hd.doc_id = t.doc_id
         |  WHERE t.term = 'data' AND t.pos <= hd.ctx
         |  GROUP BY t.doc_id
         |), tfq AS (
         |  SELECT doc_id, count(*) AS t FROM tok WHERE term = 'data' GROUP BY doc_id
         |), st AS (
         |  SELECT (SELECT coalesce(sum(c), 0) FROM occ)::DOUBLE AS o,
         |         (SELECT sum(ctx) FROM hd)::DOUBLE AS cs,
         |         (SELECT count(*) FROM tok WHERE term = 'data')::DOUBLE AS cd,
         |         (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id FROM hd UNION ALL SELECT doc_id FROM tfq)
         |), sc AS (
         |  SELECT c.doc_id,
         |    0.5 * ln((coalesce(occ.c, 0) + 500.0 * (CASE WHEN st.o <> 0 THEN st.o/st.cs ELSE 1.0/(st.cs*2.0) END))
         |             / (coalesce(hd.ctx, 0) + 500.0))
         |  + 0.5 * ln((coalesce(tfq.t, 0) + 2500.0 * st.cd / st.tt) / (dl.doclen + 2500.0)) AS s
         |  FROM cand c JOIN dl ON dl.doc_id = c.doc_id
         |  LEFT JOIN hd ON hd.doc_id = c.doc_id
         |  LEFT JOIN occ ON occ.doc_id = c.doc_id
         |  LEFT JOIN tfq ON tfq.doc_id = c.doc_id
         |  CROSS JOIN st
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    // #weight[head](0.7 data 0.3 merge): one scored head extent per
    // candidate doc (docs containing data or merge anywhere), child
    // scores with in-extent tf and global collection backgrounds
    "q_weight_extent" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term='data')::DOUBLE AS cd,
         |         (SELECT count(*) FROM tok WHERE term='merge')::DOUBLE AS cm
         |), hd AS (
         |  SELECT doc_id, least(10, doclen) AS ctx FROM dl WHERE doclen > 0
         |), tf AS (
         |  SELECT t.doc_id,
         |    count(*) FILTER (WHERE t.term='data' AND t.pos <= hd.ctx)  AS td,
         |    count(*) FILTER (WHERE t.term='merge' AND t.pos <= hd.ctx) AS tm
         |  FROM tok t JOIN hd ON hd.doc_id = t.doc_id
         |  WHERE t.term IN ('data','merge') GROUP BY t.doc_id
         |), sc AS (
         |  SELECT tf.doc_id, 0::BIGINT AS begin, hd.ctx::BIGINT AS "end",
         |    0.7 * ln((tf.td + 2500.0*cf.cd/st.tt)/(hd.ctx + 2500.0))
         |  + 0.3 * ln((tf.tm + 2500.0*cf.cm/st.tt)/(hd.ctx + 2500.0)) AS s
         |  FROM tf JOIN hd ON hd.doc_id = tf.doc_id CROSS JOIN st CROSS JOIN cf
         |)
         |SELECT doc_id, begin, "end", round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id, begin LIMIT 20""".stripMargin,

    // hash-scan ≡ #1(hash scan) under Dirichlet
    "q_hyphen_query" ->
      s"""$DTok, m AS (
         |  SELECT a.doc_id, count(*) AS tf
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE a.term = '${OdPair._1}' AND b.term = '${OdPair._2}'
         |  GROUP BY a.doc_id
         |), st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt,
         |         (SELECT coalesce(sum(tf), 0) FROM m)::DOUBLE AS oc
         |), sc AS (
         |  SELECT m.doc_id,
         |    ln((m.tf + 2500.0 * (CASE WHEN st.oc <> 0 THEN st.oc/st.tt ELSE 1.0/(st.tt*2.0) END))
         |       / (dl.doclen + 2500.0)) AS s
         |  FROM m JOIN dl ON dl.doc_id = m.doc_id CROSS JOIN st
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    // three of the four leaves resolve to the posting key 'data'
    // (verbatim-quoted, base64quote-verbatim, base64→processTerm) and the
    // fourth — quoted "DaTa", never normalized — is a zero-ctf leaf at
    // the 1/(2·|C|) default background
    "q_base64_quoted" ->
      s"""$DTok, tf AS (
         |  SELECT doc_id, count(*) AS t FROM tok WHERE term = 'data' GROUP BY doc_id
         |), st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt,
         |         (SELECT count(*) FROM tok WHERE term = 'data')::DOUBLE AS ctf
         |), sc AS (
         |  SELECT tf.doc_id,
         |    0.75 * ln((tf.t + 2500.0 * st.ctf / st.tt) / (dl.doclen + 2500.0))
         |  + 0.25 * ln((2500.0 * (1.0 / (2.0 * st.tt))) / (dl.doclen + 2500.0)) AS s
         |  FROM tf JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    // two-stage over #uw8: the window's inner Dirichlet prior is the
    // DOCUMENT frequency u/dl (4-arg list-belief form), the plain term's
    // is the collection frequency; uw counts are non-overlap deduped
    "q_twostage_window" ->
      s"""$DTok, uw AS (
         |  ${SdmUwPairSql("data", "merge", 7)}
         |), st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt,
         |         (SELECT coalesce(sum(u), 0) FROM uw)::DOUBLE AS uoc,
         |         (SELECT count(*) FROM tok WHERE term='query')::DOUBLE AS qc
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id FROM uw
         |    UNION ALL SELECT doc_id FROM tok WHERE term = 'query')
         |), tq AS (
         |  SELECT doc_id, count(*) AS t FROM tok WHERE term='query' GROUP BY doc_id
         |), sc AS (
         |  SELECT c.doc_id,
         |    0.5 * ln(0.6*((coalesce(uw.u,0) + 2500.0*(coalesce(uw.u,0)::DOUBLE/dl.doclen))/(dl.doclen + 2500.0))
         |             + 0.4*(CASE WHEN st.uoc <> 0 THEN st.uoc/st.tt ELSE 1.0/(st.tt*2.0) END))
         |  + 0.5 * ln(0.6*((coalesce(tq.t,0) + 2500.0*st.qc/st.tt)/(dl.doclen + 2500.0))
         |             + 0.4*(st.qc/st.tt)) AS s
         |  FROM cand c JOIN dl ON dl.doc_id = c.doc_id
         |  LEFT JOIN uw ON uw.doc_id = c.doc_id
         |  LEFT JOIN tq ON tq.doc_id = c.doc_id
         |  CROSS JOIN st
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    // documentLambda JM over #uw8: ln(ctxλ·u/dl + docλ·u/dl + collλ·cf)
    "q_jm_doclambda" ->
      s"""$DTok, uw AS (
         |  ${SdmUwPairSql("data", "merge", 7)}
         |), st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt,
         |         (SELECT coalesce(sum(u), 0) FROM uw)::DOUBLE AS uoc
         |), sc AS (
         |  SELECT uw.doc_id,
         |    ln((1.0::DOUBLE - 0.3 - 0.2) * (uw.u::DOUBLE / dl.doclen)
         |       + 0.2 * (uw.u::DOUBLE / dl.doclen)
         |       + 0.3 * (CASE WHEN st.uoc <> 0 THEN st.uoc/st.tt ELSE 1.0/(st.tt*2.0) END)) AS s
         |  FROM uw JOIN dl ON dl.doc_id = uw.doc_id CROSS JOIN st
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    // reformulate app string surface, byte-pinned (newlines as <NL>);
    // expected strings written out from the reference's generators
    // (src/ReformulateQuery.cpp) — NOT from the Scala implementation
    "q_reformulate_app" ->
      """SELECT * FROM (VALUES
        |  ('combine', 'n1', '#combine( data merge )'),
        |  ('combine', '2', 'EMPTYQUERY'),
        |  ('sdm', 'n1', '#weight( 0.85 #combine(data merge) 0.1 #combine(#1(data merge) ) 0.05 #combine(#uw8(data merge) ))'),
        |  ('sdm', '2', 'EMPTYQUERY'),
        |  ('fdmf', 'n1', '#weight( 0.85 #combine(#wsum( 2 data.(title)  )<NL> #wsum( 2 merge.(title)  )<NL> ) 0.1 #combine(#wsum( 2 #1(data merge ).(title)  )<NL>) 0.05 #combine(#wsum( 2 #uw8(data merge ).(title)  )<NL>))'),
        |  ('fdmf', '2', 'EMPTYQUERY'),
        |  ('cmu', 'n1', '#weight( 1.0 #combine ( #wsum (1.0 data.(url) 3.5 data.(title) 1.0 data.(body) 1.0 data.(meta) 1.0 data.(alt) 1.0 data.(inlink)) #wsum (1.0 merge.(url) 3.5 merge.(title) 1.0 merge.(body) 1.0 merge.(meta) 1.0 merge.(alt) 1.0 merge.(inlink))  ) 1.0 #weight( 0.85 #combine(data merge ) 0.1 #combine(#1(data merge )<NL>) 0.05 #combine(#uw8(data merge )<NL>)) )'),
        |  ('cmu', '2', 'EMPTYQUERY')
        |) AS t(mode, number, text) ORDER BY mode, number""".stripMargin,

    "q_any_field" ->
      s"""$DTok
         |SELECT doc_id, 0::BIGINT AS begin, least(10, doclen)::BIGINT AS "end"
         |FROM dl WHERE doclen > 0 ORDER BY doc_id""".stripMargin,

    "q_num_between" ->
      """SELECT doc_id FROM documents
        |WHERE n_chars BETWEEN 500 AND 1000 ORDER BY doc_id""".stripMargin,

    // kick[0, min(2, dl)) with parent lead exists only for doc_id%3==0
    "q_path_child" ->
      s"""$DTok
         |SELECT doc_id, 0::BIGINT AS begin, least(2, doclen)::BIGINT AS "end"
         |FROM dl WHERE doc_id % 3 = 0 AND doclen > 0 ORDER BY doc_id""".stripMargin,

    // lead extents with a kick child — again exactly the doc_id%3==0 docs
    "q_path_parent" ->
      s"""$DTok
         |SELECT doc_id, 0::BIGINT AS begin, least(4, doclen)::BIGINT AS "end"
         |FROM dl WHERE doc_id % 3 = 0 AND doclen > 0 ORDER BY doc_id""".stripMargin,

    // kick reaches head up the chain for %3==0 (via lead) and %3==1 (direct)
    "q_path_desc" ->
      s"""$DTok
         |SELECT doc_id, 0::BIGINT AS begin, least(2, doclen)::BIGINT AS "end"
         |FROM dl WHERE doc_id % 3 IN (0, 1) AND doclen > 0 ORDER BY doc_id""".stripMargin,

    // mdate = 2020-01-01 + doc_id%400 days; 2020-02-01 → offset 31,
    // 2020-06-01 → offset 152; before/after strict, between inclusive
    "q_date_ops" ->
      """WITH m AS (SELECT doc_id, doc_id % 400 AS off FROM documents)
        |SELECT 'before' AS op, doc_id FROM m WHERE off < 31
        |UNION ALL SELECT 'between' AS op, doc_id FROM m WHERE off >= 31 AND off <= 152
        |UNION ALL SELECT 'after' AS op, doc_id FROM m WHERE off > 152
        |UNION ALL SELECT 'ref_before' AS op, doc_id FROM m WHERE off < 31
        |UNION ALL SELECT 'ref_between' AS op, doc_id FROM m WHERE off >= 31 AND off <= 152
        |UNION ALL SELECT 'ref_after' AS op, doc_id FROM m WHERE off > 152
        |ORDER BY op, doc_id""".stripMargin,

    // sliding passages b = 0,5,… < doclen, e = min(b+10, doclen);
    // candidates = docs with ≥1 query term; dirichlet over the passage
    // (1-based pos: tf counts pos in (b, e])
    "q_passage" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term = 'data') AS cd,
         |         (SELECT count(*) FROM tok WHERE term = 'merge') AS cm
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data','merge')
         |), pas AS (
         |  SELECT dl.doc_id, unnest(range(0, dl.doclen, 5)) AS b, dl.doclen
         |  FROM dl WHERE dl.doc_id IN (SELECT doc_id FROM cand)
         |), pe AS (
         |  SELECT doc_id, b, least(b + 10, doclen) AS e FROM pas
         |), tf AS (
         |  SELECT p.doc_id, p.b, p.e,
         |    count(*) FILTER (WHERE t.term = 'data') AS tfd,
         |    count(*) FILTER (WHERE t.term = 'merge') AS tfm
         |  FROM pe p LEFT JOIN tok t ON t.doc_id = p.doc_id
         |    AND t.term IN ('data','merge') AND t.pos > p.b AND t.pos <= p.e
         |  GROUP BY p.doc_id, p.b, p.e
         |)
         |SELECT t.doc_id, t.b::BIGINT AS begin, t.e::BIGINT AS "end",
         |  round(0.5 * ln((t.tfd + 2500.0 * cf.cd / st.tt) / ((t.e - t.b) + 2500.0))
         |      + 0.5 * ln((t.tfm + 2500.0 * cf.cm / st.tt) / ((t.e - t.b) + 2500.0)), 6) AS score
         |FROM tf t CROSS JOIN st CROSS JOIN cf
         |ORDER BY t.doc_id, begin""".stripMargin,

    "q_porter" ->
      s"""SELECT word, stem_ref AS stem
         |FROM read_csv('$GoldenDir/porter_golden.tsv', header=false, delim='\t',
         |              columns={'word': 'VARCHAR', 'stem_ref': 'VARCHAR'})
         |ORDER BY word""".stripMargin,

    "q_krovetz" ->
      s"""SELECT word, stem_ref AS stem
         |FROM read_csv('$GoldenDir/kstem_golden.tsv', header=false, delim='\t',
         |              columns={'word': 'VARCHAR', 'stem_ref': 'VARCHAR'})
         |ORDER BY word""".stripMargin,

    "q_arabic" ->
      // empty stem fields parse as NULL (read_csv default nullstr)
      s"""SELECT word, stem_ref AS stem
         |FROM read_csv('$GoldenDir/arabic_light10_golden.tsv', header=false, delim='\t',
         |              columns={'word': 'VARCHAR', 'stem_ref': 'VARCHAR'})
         |ORDER BY word""".stripMargin,

    "q_utf8_case" ->
      // the golden norm column IS the oracle (reference transform output);
      // empty norm fields ("..." strips to nothing) parse as NULL
      s"""SELECT word, norm_ref AS norm
         |FROM read_csv('$GoldenDir/utf8_case_golden.tsv', header=false, delim='\t',
         |              columns={'word': 'VARCHAR', 'norm_ref': 'VARCHAR'})
         |ORDER BY word""".stripMargin,

    // okapi scores, restricted to the working set AFTER scoring
    "q_working_set" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ts AS (
         |  SELECT term, count(*) AS df FROM p GROUP BY term
         |), sc AS (
         |  SELECT p.doc_id,
         |    sum( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
         |         / (p.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p JOIN ts USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY p.doc_id
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc WHERE doc_id % 7 = 0
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    // every adjacent (hash, scan) pair: begin = 0-based pos of hash,
    // end = exclusive 0-based end of scan
    "q_extent_list" ->
      s"""$DTok
         |SELECT a.doc_id, (a.pos - 1)::BIGINT AS begin, (a.pos + 1)::BIGINT AS "end"
         |FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |WHERE a.term = 'hash' AND b.term = 'scan'
         |ORDER BY a.doc_id, begin""".stripMargin,

    // fb = okapi top-10; per-term over fb docs with tf>=2:
    //   coll   = Σ ln((tf/dl) / (ctf/colLen))      [PonteExpander sort key]
    //   weight = Σ exp(docScore) · tf/dl           [μ = 0]
    "q_ponte_terms" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ts AS (
         |  SELECT term, count(*) AS df FROM p GROUP BY term
         |), sc AS (
         |  SELECT p.doc_id,
         |    sum( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
         |         / (p.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p JOIN ts USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY p.doc_id
         |), fb AS (
         |  SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 10
         |), pt AS (
         |  SELECT t.term, t.doc_id, count(*) AS tf
         |  FROM tok t JOIN fb ON t.doc_id = fb.doc_id
         |  GROUP BY t.term, t.doc_id HAVING count(*) >= 2
         |), ctf AS (
         |  SELECT term, count(*) AS ctf FROM tok
         |  WHERE term IN (SELECT term FROM pt) GROUP BY term
         |)
         |SELECT pt.term,
         |  round(sum(ln((pt.tf::DOUBLE / dl.doclen) / (ctf.ctf::DOUBLE / st.tt::DOUBLE))), 6) AS coll,
         |  round(sum(exp(fb.s) * (pt.tf::DOUBLE / dl.doclen)), 6) AS weight
         |FROM pt JOIN dl USING(doc_id) JOIN ctf USING(term)
         |JOIN fb ON fb.doc_id = pt.doc_id CROSS JOIN st
         |GROUP BY pt.term ORDER BY pt.term""".stripMargin,

    // weight(t) = (Σ_fb BM25TF·idf) / fbDocs · fbOrigWeight with
    // BM25TF = k1·tf/(tf + k1(1−b + b/avgdl·dl)), idf = ln((N+1)/(df+0.5))
    "q_tfidf_terms" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ts AS (
         |  SELECT term, count(*) AS df FROM p GROUP BY term
         |), sc AS (
         |  SELECT p.doc_id,
         |    sum( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
         |         / (p.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p JOIN ts USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY p.doc_id
         |), fb AS (
         |  SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 10
         |), pt AS (
         |  SELECT t.term, t.doc_id, count(*) AS tf
         |  FROM tok t JOIN fb ON t.doc_id = fb.doc_id
         |  GROUP BY t.term, t.doc_id
         |), dfs AS (
         |  SELECT term, count(DISTINCT doc_id) AS df FROM tok
         |  WHERE term IN (SELECT term FROM pt) GROUP BY term
         |)
         |SELECT pt.term,
         |  round(sum( (1.2 * pt.tf / (pt.tf + 1.2 * (0.25 + (0.75 / (st.tt::DOUBLE / st.n)) * dl.doclen)))
         |             * ln((st.n + 1) / (dfs.df + 0.5)) ) / 10 * 0.5, 6) AS weight
         |FROM pt JOIN dl USING(doc_id) JOIN dfs USING(term) CROSS JOIN st
         |GROUP BY pt.term ORDER BY pt.term""".stripMargin,

    // post-surgery field surface: head kept (clipped to doclen), lead
    // removed, note [1,3) added for doc_id%5==0
    "q_rewrite_fields" ->
      s"""$DTok
         |SELECT doc_id, 'head' AS field, 0::BIGINT AS begin, least(10, doclen)::BIGINT AS "end" FROM dl
         |UNION ALL
         |SELECT doc_id, 'note' AS field, 1::BIGINT AS begin, 3::BIGINT AS "end"
         |FROM documents WHERE doc_id % 5 = 0
         |ORDER BY doc_id, field, begin""".stripMargin,

    "q_dedup_exact" ->
      """SELECT doc_id,
        |       min(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
        |       (CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END)::BIGINT AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,

    // single-batch stream dedup == batch exact dedup (same oracle shape)
    "q_stream_dedup" ->
      """SELECT doc_id,
        |       min(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
        |       (CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END)::BIGINT AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_minhash" -> {
      val mhs = (0 until 4).map(j =>
        s"list_aggregate(list_transform(sh, x -> md5('$j:' || x)), 'min') AS mh$j").mkString(",\n       ")
      s"""WITH d AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
         |), s AS (
         |  SELECT doc_id, list_transform(range(1, greatest(len(toks) - 1, 1)),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
         |  FROM d
         |)
         |SELECT doc_id,
         |       $mhs
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q_lsh_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_transform(range(1, greatest(len(toks) - 1, 1)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        |  FROM d
        |), sig AS (
        |  SELECT doc_id,
        |    list_aggregate(list_transform(sh, x -> md5('0:' || x)), 'min') AS mh0,
        |    list_aggregate(list_transform(sh, x -> md5('1:' || x)), 'min') AS mh1,
        |    list_aggregate(list_transform(sh, x -> md5('2:' || x)), 'min') AS mh2,
        |    list_aggregate(list_transform(sh, x -> md5('3:' || x)), 'min') AS mh3
        |  FROM s
        |), banded AS (
        |  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bucket FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS bucket FROM sig
        |)
        |SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
        |WHERE a.doc_id < b.doc_id
        |ORDER BY a, b""".stripMargin,

    // transitive closure of the q_lsh_pairs candidate graph via a
    // recursive CTE: walk(id, r) enumerates every node r reachable from
    // id; min(r) (base row includes id itself) is the canonical keeper
    "q_dedup_clusters" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_transform(range(1, greatest(len(toks) - 1, 1)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        |  FROM d
        |), sig AS (
        |  SELECT doc_id,
        |    list_aggregate(list_transform(sh, x -> md5('0:' || x)), 'min') AS mh0,
        |    list_aggregate(list_transform(sh, x -> md5('1:' || x)), 'min') AS mh1,
        |    list_aggregate(list_transform(sh, x -> md5('2:' || x)), 'min') AS mh2,
        |    list_aggregate(list_transform(sh, x -> md5('3:' || x)), 'min') AS mh3
        |  FROM s
        |), banded AS (
        |  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bucket FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS bucket FROM sig
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
        |  WHERE a.doc_id < b.doc_id
        |), edges AS (
        |  SELECT a AS x, b AS y FROM pairs UNION ALL SELECT b AS x, a AS y FROM pairs
        |), walk(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT w.id, e.y FROM walk w JOIN edges e ON e.x = w.r
        |)
        |SELECT id AS doc_id, min(r) AS keeper,
        |       (CASE WHEN min(r) <> id THEN 1 ELSE 0 END)::BIGINT AS is_dup
        |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,

    // batch window semantics of the stateful bucket-claim dedup:
    // keeper(d) = min over d's bands of min(doc_id) in that band bucket
    "q_stream_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_transform(range(1, greatest(len(toks) - 1, 1)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        |  FROM d
        |), sig AS (
        |  SELECT doc_id,
        |    list_aggregate(list_transform(sh, x -> md5('0:' || x)), 'min') AS mh0,
        |    list_aggregate(list_transform(sh, x -> md5('1:' || x)), 'min') AS mh1,
        |    list_aggregate(list_transform(sh, x -> md5('2:' || x)), 'min') AS mh2,
        |    list_aggregate(list_transform(sh, x -> md5('3:' || x)), 'min') AS mh3
        |  FROM s
        |), banded AS (
        |  -- docs below the shingle width (all-NULL signature) do not
        |  -- band at all, mirroring minhashBands' mh0 IS NOT NULL filter
        |  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bucket FROM sig WHERE mh0 IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS bucket FROM sig WHERE mh0 IS NOT NULL
        |), bm AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY band, bucket) AS mn FROM banded
        |)
        |SELECT doc_id, min(mn) AS keeper,
        |       (CASE WHEN min(mn) < doc_id THEN 1 ELSE 0 END)::BIGINT AS is_dup
        |FROM bm GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // 8-gram window i runs 1..len-7 (range end len-6 exclusive), same
    // offsets as q_decontaminate; docs shorter than 8 tokens drop out
    "q_repeated_spans" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_transform(range(1, greatest(len(toks) - 6, 1)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        |         toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]) AS sh
        |  FROM d
        |), g AS (
        |  SELECT doc_id, unnest(sh) AS g FROM s
        |), c AS (
        |  SELECT g, count(*) AS c FROM g GROUP BY g
        |)
        |SELECT g.doc_id, count(*)::BIGINT AS n_grams,
        |  sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END)::BIGINT AS n_repeated,
        |  round(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS repeat_frac
        |FROM g JOIN c USING (g) GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,

    // keep-one-copy substring removal: survivor = row_number 1 over
    // (doc_id, pos) per gram; covered positions expand to [pos, pos+7]
    "q_remove_spans" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_transform(range(1, greatest(len(toks) - 6, 1)),
        |    i -> struct_pack(pos := i - 1,
        |      g := toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        |           toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])) AS sh
        |  FROM d
        |), o1 AS (
        |  SELECT doc_id, unnest(sh) AS u FROM s
        |), o2 AS (
        |  SELECT doc_id, u.pos AS pos, u.g AS g,
        |    row_number() OVER (PARTITION BY u.g ORDER BY doc_id, u.pos) AS rn,
        |    count(*) OVER (PARTITION BY u.g) AS c
        |  FROM o1
        |), cov AS (
        |  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS cp
        |  FROM o2 WHERE c > 1 AND rn > 1
        |), covset AS (
        |  SELECT doc_id, list(cp) AS cps FROM cov GROUP BY doc_id
        |), res AS (
        |  SELECT d.doc_id, len(d.toks) AS n_tokens,
        |    list_filter(range(1, len(d.toks) + 1),
        |      i -> NOT list_contains(coalesce(cps, []), i - 1)) AS kept,
        |    d.toks AS toks
        |  FROM d LEFT JOIN covset USING (doc_id)
        |)
        |SELECT doc_id, n_tokens::BIGINT AS n_tokens, len(kept)::BIGINT AS n_kept,
        |  -- empty-list trap: array_to_string([]) is NULL, Spark's concat_ws is ''
        |  coalesce(array_to_string(list_transform(kept, i -> toks[i]), ' '), '') AS text_dedup
        |FROM res ORDER BY doc_id""".stripMargin,

    // candidate pairs = the q_lsh_pairs banding (4 hashes × 2 bands),
    // then exact distinct-trigram Jaccard on each candidate
    "q_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_transform(range(1, greatest(len(toks) - 1, 1)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        |  FROM d
        |), sig AS (
        |  SELECT doc_id,
        |    list_aggregate(list_transform(sh, x -> md5('0:' || x)), 'min') AS mh0,
        |    list_aggregate(list_transform(sh, x -> md5('1:' || x)), 'min') AS mh1,
        |    list_aggregate(list_transform(sh, x -> md5('2:' || x)), 'min') AS mh2,
        |    list_aggregate(list_transform(sh, x -> md5('3:' || x)), 'min') AS mh3
        |  FROM s
        |), banded AS (
        |  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bucket FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS bucket FROM sig
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
        |  WHERE a.doc_id < b.doc_id
        |), sd AS (
        |  SELECT doc_id, list_distinct(sh) AS sh FROM s
        |), pr AS (
        |  SELECT p.a, p.b,
        |    len(list_intersect(x.sh, y.sh)) AS inter,
        |    len(list_distinct(list_concat(x.sh, y.sh))) AS uni
        |  FROM pairs p JOIN sd x ON x.doc_id = p.a JOIN sd y ON y.doc_id = p.b
        |)
        |SELECT a, b, round(inter::DOUBLE / uni, 6) AS jaccard
        |FROM pr WHERE inter > 0 ORDER BY a, b""".stripMargin,

    "q_simhash16" -> simhash16Sql,

    // per-vector absmax int8 quantization with the portable
    // floor(x·127/am + 0.5) rounding, then integer-dot cosine
    "q_ann_int8" ->
      """WITH z AS (
        |  SELECT vec_id,
        |    CASE WHEN am = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |                x -> floor(x::DOUBLE * 127 / am + 0.5)::INT) END AS qv
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS am
        |        FROM embeddings)
        |), q AS (
        |  SELECT vec_id AS qid, qv FROM z WHERE vec_id < 10
        |), c AS (
        |  SELECT vec_id AS nid, qv AS cv FROM z
        |), pr AS (
        |  SELECT qid, nid,
        |    round(
        |      list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * cv[i]::DOUBLE))
        |      / ( sqrt(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))
        |        * sqrt(list_sum(list_transform(range(1, len(cv) + 1), i -> cv[i]::DOUBLE * cv[i]::DOUBLE))) ),
        |      6) AS sim
        |  FROM q, c WHERE qid <> nid
        |), rk AS (
        |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
        |  FROM pr
        |)
        |SELECT qid, nid, sim, rk::BIGINT AS rk FROM rk WHERE rk <= 5
        |ORDER BY qid, rk""".stripMargin,

    "q_ann_brute" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10
        |), c AS (
        |  SELECT vec_id AS nid, embedding AS cv FROM embeddings
        |), pr AS (
        |  SELECT qid, nid,
        |    round(
        |      list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * cv[i]::DOUBLE))
        |      / ( sqrt(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))
        |        * sqrt(list_sum(list_transform(range(1, len(cv) + 1), i -> cv[i]::DOUBLE * cv[i]::DOUBLE))) ),
        |      6) AS sim
        |  FROM q, c WHERE qid <> nid
        |), rk AS (
        |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
        |  FROM pr
        |)
        |SELECT qid, nid, sim, rk FROM rk WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "q_ann_lsh" -> PlantedTop1Sql,
    "q_ann_ivf" -> PlantedTop1Sql,

    // SemDeDup dup rows = exactly the planted copies with their source
    // as keeper: copies are co-celled with probability 1 (identical
    // vectors), cosine 1.0 ≥ 0.9, and no natural within-cell pair
    // reaches 0.9 (brute-force max ≈0.60 over ALL pairs — the cell
    // restriction only shrinks that set)
    "q_semantic_dedup" ->
      """SELECT vec_id + 1000000 AS vec_id, vec_id AS keeper
        |FROM embeddings WHERE vec_id % 17 = 0 ORDER BY 1""".stripMargin,

    "q_emb_neardup" ->
      s"""$PlantedCte, pr AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b,
         |    round(
         |      list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
         |      / ( sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
         |        * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))) ),
         |      6) AS sim
         |  FROM pe a JOIN pe b ON a.vec_id < b.vec_id
         |)
         |SELECT a, b, sim FROM pr WHERE sim >= 0.9 ORDER BY a, b""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes, md5(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_multimodal_wav" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        |s AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 64), i -> abs(((doc_id * 131 + i * 9973) % 65536) - 32768)) AS a
        |  FROM ids
        |)
        |SELECT doc_id, 8000::BIGINT AS sample_rate, 1::BIGINT AS channels,
        |  64::BIGINT AS n_samples,
        |  round(list_sum(a) / 64.0, 6) AS mean_abs,
        |  list_max(a)::BIGINT AS peak
        |FROM s ORDER BY doc_id""".stripMargin,

    // pixel channel formula mirrored from the driver query's synth UDF:
    // v = (doc_id*7 + x*13 + y*31) % 256; r=v, g=(v+85)%256, b=(v+170)%256
    "q_multimodal_bmp" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        |s AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 12), i -> (doc_id * 7 + (i % 4) * 13 + (i // 4) * 31) % 256) AS v
        |  FROM ids
        |)
        |SELECT doc_id, 4::BIGINT AS width, 3::BIGINT AS height,
        |  12::BIGINT AS n_pixels,
        |  round(list_sum(v)::DOUBLE / 12, 6) AS mean_r,
        |  round(list_sum(list_transform(v, x -> (x + 85) % 256))::DOUBLE / 12, 6) AS mean_g,
        |  round(list_sum(list_transform(v, x -> (x + 170) % 256))::DOUBLE / 12, 6) AS mean_b
        |FROM s ORDER BY doc_id""".stripMargin,

    // v = (doc_id*11 + i*29) % 256; r=v, g=(v+63)%256, b=(v+190)%256
    "q_multimodal_png" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        |s AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 20), i -> (doc_id * 11 + i * 29) % 256) AS v
        |  FROM ids
        |)
        |SELECT doc_id, 5::BIGINT AS width, 4::BIGINT AS height,
        |  20::BIGINT AS n_pixels,
        |  round(list_sum(v)::DOUBLE / 20, 6) AS mean_r,
        |  round(list_sum(list_transform(v, x -> (x + 63) % 256))::DOUBLE / 20, 6) AS mean_g,
        |  round(list_sum(list_transform(v, x -> (x + 190) % 256))::DOUBLE / 20, 6) AS mean_b
        |FROM s ORDER BY doc_id""".stripMargin,

    // lossless metadata of the per-doc solid-color JPEGs (decode
    // failure → width -1 on the Spark side → mismatch)
    "q_multimodal_jpeg" ->
      """SELECT doc_id, 6::BIGINT AS width, 4::BIGINT AS height, 24::BIGINT AS n_pixels
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    "q_pagerank" -> {
      val prs = (1 to 10).map { i =>
        s"""pr$i AS (
           |  SELECT n.id, 0.7 * coalesce(s.acc, 0) + 0.015 AS pr
           |  FROM n LEFT JOIN (
           |    SELECT e.dst AS id, sum(p.pr / od.outdeg) AS acc
           |    FROM e JOIN od USING(src) JOIN pr${i - 1} p ON p.id = e.src
           |    GROUP BY e.dst
           |  ) s ON s.id = n.id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT user_id % 20 AS src, event_id % 20 AS dst
         |  FROM events WHERE user_id % 20 <> event_id % 20
         |), od AS (
         |  SELECT src, count(*) AS outdeg FROM e GROUP BY src
         |), n AS (
         |  SELECT range AS id FROM range(20)
         |), pr0 AS (
         |  SELECT id, 0.015 AS pr FROM n
         |),
         |$prs
         |SELECT id, round(pr, 6) AS pr FROM pr10 ORDER BY id""".stripMargin
    },

    "q_harvestlinks" ->
      s"""$WebCte
         |SELECT src_doc, link_ord::BIGINT AS link_ord, dst_url, anchor
         |FROM lc ORDER BY src_doc, link_ord""".stripMargin,

    "q_anchor_text" ->
      s"""$WebCte
         |SELECT dst_doc, count(*)::BIGINT AS n_inlinks,
         |  string_agg(anchor, ' ' ORDER BY src_doc, link_ord) AS anchors
         |FROM lr GROUP BY dst_doc ORDER BY dst_doc""".stripMargin,

    "q_pagerank_harvest" -> {
      val base = "(SELECT 0.3 / count(*) FROM documents)"
      val prs = (1 to 10).map { i =>
        s"""pr$i AS (
           |  SELECT nd.id, 0.7 * coalesce(s.acc, 0) + $base AS pr
           |  FROM nd LEFT JOIN (
           |    SELECT e.dst AS id, sum(p.pr / od.outdeg) AS acc
           |    FROM e JOIN od USING(src) JOIN pr${i - 1} p ON p.id = e.src
           |    GROUP BY e.dst
           |  ) s ON s.id = nd.id
           |)""".stripMargin
      }.mkString(",\n")
      s"""$WebCte,
         |e AS (SELECT DISTINCT src_doc AS src, dst_doc AS dst FROM lr),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |nd AS (SELECT doc_id AS id FROM documents),
         |pr0 AS (SELECT id, $base AS pr FROM nd),
         |$prs
         |SELECT id, round(pr, 6) AS pr FROM pr10 ORDER BY id""".stripMargin
    },

    "q_pagerank_ranks" -> {
      val base = "(SELECT 0.3 / count(*) FROM documents)"
      val prs = (1 to 10).map { i =>
        s"""pr$i AS (
           |  SELECT nd.id, 0.7 * coalesce(s.acc, 0) + $base AS pr
           |  FROM nd LEFT JOIN (
           |    SELECT e.dst AS id, sum(p.pr / od.outdeg) AS acc
           |    FROM e JOIN od USING(src) JOIN pr${i - 1} p ON p.id = e.src
           |    GROUP BY e.dst
           |  ) s ON s.id = nd.id
           |)""".stripMargin
      }.mkString(",\n")
      // rawToInt bins: B = (N+1)^(1/10); b10 = max(1, int(B−1)) (the
      // engine's clamp for the reference's <2^10-doc UB), b_r =
      // ceil(B·b_{r+1}); rank r takes rows (Σb_10..r+1, Σb_10..r]
      val binCtes = (
        "bb AS (SELECT power((SELECT count(*) FROM documents) + 1.0, 0.1) AS bv)" +:
        "b10 AS (SELECT greatest(1, floor((SELECT bv FROM bb) - 1))::BIGINT AS b)" +:
        (9 to 2 by -1).map(r =>
          s"b$r AS (SELECT ceil((SELECT bv FROM bb) * (SELECT b FROM b${r + 1}))::BIGINT AS b)")
      ).mkString(",\n")
      val whenChain = (10 to 2 by -1).map { r =>
        val cum = (10 to r by -1).map(k => s"(SELECT b FROM b$k)").mkString(" + ")
        s"WHEN rn <= ($cum) THEN $r"
      }.mkString(" ")
      val probs = Seq("2.21916e-10", "5.61952e-10", "1.94786e-9", "3.62742e-9",
        "1.00745e-8", "1.97616e-8", "3.46944e-8", "4.39146e-8", "1.74226e-7",
        "2.28983e-7")
      val probCase = probs.zipWithIndex.map { case (p, i) =>
        s"WHEN ${i + 1} THEN ln($p)" }.mkString(" ")
      s"""$WebCte,
         |e AS (SELECT DISTINCT src_doc AS src, dst_doc AS dst FROM lr),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |nd AS (SELECT doc_id AS id FROM documents),
         |pr0 AS (SELECT id, $base AS pr FROM nd),
         |$prs,
         |$binCtes,
         |ranked AS (
         |  SELECT id, pr, row_number() OVER (ORDER BY round(pr, 6) DESC, id) AS rn
         |  FROM pr10
         |),
         |binned AS (SELECT id, pr, CASE $whenChain ELSE 1 END AS r FROM ranked)
         |SELECT id AS doc_id, round(pr, 6) AS pr, r::BIGINT AS pr_rank,
         |  round(CASE r $probCase END, 6) AS prior
         |FROM binned ORDER BY doc_id""".stripMargin
    },

    "q_meta_lookup" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE source IN ('src7', 'src13') ORDER BY doc_id""".stripMargin,

    "q_lang_id" -> {
      val cases = TextPipeline.LangMarkers.map { case (l, ms) =>
        s"len(list_filter(toks, t -> t IN ${inList(ms)})) AS n_$l"
      }.mkString(",\n       ")
      val maxExpr = TextPipeline.LangMarkers.map { case (l, _) => s"n_$l" }
        .mkString("greatest(", ", ", ")")
      val pred = TextPipeline.LangMarkers.foldRight("'und'") { case ((l, _), acc) =>
        s"CASE WHEN n_$l = mx AND mx > 0 THEN '$l' ELSE $acc END"
      }
      s"""WITH d AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
         |), sc AS (
         |  SELECT doc_id,
         |       $cases
         |  FROM d
         |), mxd AS (
         |  SELECT *, $maxExpr AS mx FROM sc
         |)
         |SELECT doc_id, $pred AS lang_pred, mx::BIGINT AS marker_hits
         |FROM mxd ORDER BY doc_id""".stripMargin
    },

    "q_quality" ->
      """WITH d AS (
        |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |)
        |SELECT doc_id,
        |  length(text)::BIGINT AS n_chars,
        |  len(toks)::BIGINT AS n_tokens,
        |  round(CASE WHEN len(toks) > 0
        |    THEN list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)
        |    ELSE 0.0 END, 6) AS mean_tok_len,
        |  round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE
        |    / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','it','for','that')))::DOUBLE
        |    / greatest(len(toks), 1), 6) AS stopword_ratio
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_token_counts" ->
      """WITH d AS (
        |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |)
        |SELECT doc_id,
        |  len(toks)::BIGINT AS n_regex_tokens,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n_ws_tokens,
        |  coalesce(list_sum(list_transform(toks, t -> ceil(length(t)::DOUBLE / 4.0)::BIGINT)), 0)::BIGINT AS n_bpe_est
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_fingerprints" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, toks, list_transform(range(1, greatest(len(toks) - 1, 1)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        |  FROM d
        |)
        |SELECT doc_id,
        |  md5(array_to_string(toks, ' ')) AS content_fp,
        |  list_aggregate(list_transform(sh, x -> md5(x)), 'min') AS min_shingle_fp,
        |  len(list_distinct(sh))::BIGINT AS n_distinct_shingles
        |FROM s ORDER BY doc_id""".stripMargin,

    // 8-gram overlap vs the doc_id<5 probe set; shingle window i runs
    // 1..len-7 (range end len-6 exclusive), matching Spark offsets 0..len-8
    "q_decontaminate_bloom" -> DecontaminateSql,

    "q_decontaminate" -> DecontaminateSql,

    // bigram window i runs 1..len-1 (range end len exclusive)
    "q_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
        |         list_filter(string_split(text, chr(10)), l -> length(l) > 0) AS lines
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks), 1)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS g
        |  FROM d
        |), cnt AS (
        |  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g
        |), agg AS (
        |  SELECT doc_id, max(c) AS top_c, sum(c)::BIGINT AS tot FROM cnt GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  round(CASE WHEN len(lines) > 0
        |        THEN 1.0 - len(list_distinct(lines))::DOUBLE / len(lines) ELSE 0.0 END, 6) AS dup_line_frac,
        |  round(CASE WHEN coalesce(a.tot, 0) > 0
        |        THEN a.top_c::DOUBLE / a.tot ELSE 0.0 END, 6) AS top_bigram_frac
        |FROM d LEFT JOIN agg a USING(doc_id) ORDER BY doc_id""".stripMargin,

    "q_code_stats" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split(text, chr(10)), l -> length(l) > 0) AS lines
        |  FROM documents
        |)
        |SELECT doc_id,
        |  coalesce(list_max(list_transform(lines, l -> length(l))), 0)::BIGINT AS max_line_len,
        |  len(lines)::BIGINT AS n_lines,
        |  round(CASE WHEN length(text) > 0
        |        THEN length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE / length(text)
        |        ELSE 0.0 END, 6) AS alnum_frac,
        |  round(CASE WHEN len(lines) > 0
        |        THEN len(list_filter(lines, l -> starts_with(trim(l), '//') OR starts_with(trim(l), '#')))::DOUBLE / len(lines)
        |        ELSE 0.0 END, 6) AS comment_line_frac,
        |  (CASE WHEN contains(text, 'SPDX-License-Identifier') THEN 1 ELSE 0 END)::BIGINT AS has_spdx
        |FROM d ORDER BY doc_id""".stripMargin,

    // same md5-uniform on both engines: u = first 8 hex chars / 2^32
    // (exact double), keep iff u < rate(source)
    "q_sample_strata" ->
      """WITH h AS (
        |  SELECT doc_id, source, md5(doc_id::VARCHAR) AS hx FROM documents
        |), u AS (
        |  SELECT doc_id, source,
        |    ((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 268435456 +
        |     (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16777216 +
        |     (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 1048576 +
        |     (instr('0123456789abcdef', substr(hx, 4, 1)) - 1) * 65536 +
        |     (instr('0123456789abcdef', substr(hx, 5, 1)) - 1) * 4096 +
        |     (instr('0123456789abcdef', substr(hx, 6, 1)) - 1) * 256 +
        |     (instr('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16 +
        |     (instr('0123456789abcdef', substr(hx, 8, 1)) - 1))::DOUBLE / 4294967296.0 AS u
        |  FROM h
        |), r AS (
        |  SELECT doc_id, source, u,
        |    CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
        |                WHEN 'src2' THEN 0.5 ELSE 0.25 END AS rate
        |  FROM u
        |)
        |SELECT doc_id, source, round(u, 9) AS u FROM r WHERE u < rate
        |ORDER BY doc_id""".stripMargin,

    "q_hash_split" ->
      """WITH h AS (
        |  SELECT doc_id, md5(doc_id::VARCHAR) AS hx FROM documents
        |), b AS (
        |  SELECT doc_id,
        |    ((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16 +
        |     (instr('0123456789abcdef', substr(hx, 2, 1)) - 1)) % 100 AS bucket
        |  FROM h
        |)
        |SELECT doc_id, bucket::BIGINT AS bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    // same pre-aggregated shape as TextPipeline.unigramLogProb: per-
    // (doc, tok) counts first, vocab join on distinct rows, count-
    // weighted average — identical arithmetic on both engines
    "q_unigram_lp" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(toks) AS tok FROM d
        |), pd AS (
        |  SELECT doc_id, tok, count(*)::BIGINT AS k FROM tok GROUP BY doc_id, tok
        |), c AS (
        |  SELECT tok, sum(k)::BIGINT AS c FROM pd GROUP BY tok
        |), t AS (
        |  SELECT sum(c)::DOUBLE AS tt FROM c
        |)
        |SELECT pd.doc_id,
        |  round(sum(pd.k::DOUBLE * log10(c.c::DOUBLE / t.tt)) / sum(pd.k::DOUBLE), 6)
        |    AS mean_log10p,
        |  sum(pd.k)::BIGINT AS n_tokens
        |FROM pd JOIN c USING (tok) CROSS JOIN t
        |GROUP BY pd.doc_id ORDER BY doc_id""".stripMargin,

    // same RE2-subset regexes as TextPipeline.redactPii, applied in the
    // same order; DuckDB regexp_replace needs the 'g' flag for
    // replace-all (Spark replaces all by default)
    "q_pii" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
        |    regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM documents
        |), r2 AS (
        |  SELECT doc_id, n_emails,
        |    len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        |    regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
        |  FROM r
        |)
        |SELECT doc_id, n_emails::BIGINT AS n_emails, n_ipv4::BIGINT AS n_ipv4,
        |  len(regexp_extract_all(t2, '\b\d{7,15}\b'))::BIGINT AS n_phones,
        |  md5(regexp_replace(t2, '\b\d{7,15}\b', '<PHONE>', 'g')) AS redacted_md5
        |FROM r2 ORDER BY doc_id""".stripMargin,

    // the greedy region merge (new region when match+1-regionStart >
    // windowWidth=12) recomputed from token positions via a list_reduce
    // whose accumulator packs (regionStart, count) into one BIGINT;
    // gap arithmetic is shift-invariant so 1-based positions are fine
    // full snippet strings: greedy region merge (windowWidth 12) via a
    // recursive CTE carrying the running region start, ±2 context words,
    // global-match-set highlighting, regions joined by ' ... ' — the
    // exact SnippetBuilder fold (simple-mode rawTokens are the lowercase
    // [a-z0-9]+ runs, so the oracle tokens ARE the display surface)
    "q_snippets" ->
      s"""${DTok.replaceFirst("WITH", "WITH RECURSIVE")}, m AS (
         |  SELECT doc_id, pos - 1 AS p,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
         |  FROM tok WHERE term IN ('data','merge')
         |), walk AS (
         |  SELECT doc_id, rn, p, p AS rb, 1 AS rid FROM m WHERE rn = 1
         |  UNION ALL
         |  SELECT m.doc_id, m.rn, m.p,
         |    CASE WHEN m.p + 1 - w.rb > 12 THEN m.p ELSE w.rb END AS rb,
         |    CASE WHEN m.p + 1 - w.rb > 12 THEN w.rid + 1 ELSE w.rid END AS rid
         |  FROM walk w JOIN m ON m.doc_id = w.doc_id AND m.rn = w.rn + 1
         |), reg AS (
         |  SELECT doc_id, rid, min(rb) AS rb, max(p) + 1 AS re
         |  FROM walk GROUP BY doc_id, rid
         |), ms AS (
         |  SELECT doc_id, list(p) AS mlist FROM m GROUP BY doc_id
         |), snip AS (
         |  SELECT r.doc_id, r.rid,
         |    array_to_string(
         |      list_transform(range(greatest(r.rb - 2, 0), least(r.re + 2, dl.doclen)),
         |        i -> CASE WHEN list_contains(ms.mlist, i)
         |             THEN '<b>' || d.toks[i + 1] || '</b>' ELSE d.toks[i + 1] END),
         |      ' ') AS s
         |  FROM reg r JOIN dl ON dl.doc_id = r.doc_id JOIN d ON d.doc_id = r.doc_id
         |  JOIN ms ON ms.doc_id = r.doc_id
         |)
         |SELECT doc_id, string_agg(s, ' ... ' ORDER BY rid) AS snippet
         |FROM snip GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_snippet_stats" ->
      s"""$DTok, m AS (
         |  SELECT doc_id, list_sort(list(pos)) AS ms FROM tok
         |  WHERE term IN ('data','merge') GROUP BY doc_id
         |)
         |SELECT doc_id,
         |  (list_reduce(list_transform(ms, x -> x::BIGINT * 100000 + 1),
         |    (acc, x) -> CASE WHEN x // 100000 + 1 - acc // 100000 > 12
         |                THEN (x // 100000) * 100000 + acc % 100000 + 1
         |                ELSE acc END) % 100000)::BIGINT AS n_regions
         |FROM m ORDER BY doc_id""".stripMargin,

    // SDM under Dirichlet, scored directly: terms data/merge/query;
    // ordered pairs = adjacent positions; #uw8 pair count = anchors (of
    // either term) whose NEXT other-term occurrence is ≤7 positions away
    // (the pooled-scan new-term walk of UnorderedWindowNode for k=2);
    // window ctf = total match count; weights normalized left-to-right
    // exactly as WeightNode folds them
    "q_sdm" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term='data')  AS c1,
         |         (SELECT count(*) FROM tok WHERE term='merge') AS c2,
         |         (SELECT count(*) FROM tok WHERE term='query') AS c3
         |), tf AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term='data')  AS t1,
         |    count(*) FILTER (WHERE term='merge') AS t2,
         |    count(*) FILTER (WHERE term='query') AS t3
         |  FROM tok WHERE term IN ('data','merge','query') GROUP BY doc_id
         |), od AS (
         |  SELECT a.doc_id,
         |    count(*) FILTER (WHERE a.term='data')  AS o1,
         |    count(*) FILTER (WHERE a.term='merge') AS o2
         |  FROM tok a JOIN tok b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
         |  WHERE (a.term='data' AND b.term='merge') OR (a.term='merge' AND b.term='query')
         |  GROUP BY a.doc_id
         |), uw1 AS (
         |  ${SdmUwPairSql("data", "merge", 7)}
         |), uw2 AS (
         |  ${SdmUwPairSql("merge", "query", 7)}
         |), ws AS (
         |  SELECT (SELECT coalesce(sum(o1),0) FROM od)::DOUBLE AS oc1,
         |         (SELECT coalesce(sum(o2),0) FROM od)::DOUBLE AS oc2,
         |         (SELECT coalesce(sum(u),0) FROM uw1)::DOUBLE AS uc1,
         |         (SELECT coalesce(sum(u),0) FROM uw2)::DOUBLE AS uc2
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data','merge','query')
         |), sc AS (
         |  -- zero-ctf window guard mirrors TermScoreFunctionFactory:
         |  -- cf = occ/tt, or 1/(2 tt) when the expression never occurs
         |  SELECT c.doc_id,
         |    (0.85/(0.85+0.1+0.05)) * ((1.0/3 * ln((coalesce(tf.t1,0) + 2500.0*cf.c1/st.tt)/(dl.doclen+2500.0))
         |       + 1.0/3 * ln((coalesce(tf.t2,0) + 2500.0*cf.c2/st.tt)/(dl.doclen+2500.0)))
         |       + 1.0/3 * ln((coalesce(tf.t3,0) + 2500.0*cf.c3/st.tt)/(dl.doclen+2500.0)))
         |  + (0.1/(0.85+0.1+0.05)) * (1.0/2 * ln((coalesce(od.o1,0) + 2500.0 * (CASE WHEN ws.oc1 <> 0 THEN ws.oc1/st.tt ELSE 1.0/(st.tt*2.0) END))/(dl.doclen+2500.0))
         |       + 1.0/2 * ln((coalesce(od.o2,0) + 2500.0 * (CASE WHEN ws.oc2 <> 0 THEN ws.oc2/st.tt ELSE 1.0/(st.tt*2.0) END))/(dl.doclen+2500.0)))
         |  + (0.05/(0.85+0.1+0.05)) * (1.0/2 * ln((coalesce(uw1.u,0) + 2500.0 * (CASE WHEN ws.uc1 <> 0 THEN ws.uc1/st.tt ELSE 1.0/(st.tt*2.0) END))/(dl.doclen+2500.0))
         |       + 1.0/2 * ln((coalesce(uw2.u,0) + 2500.0 * (CASE WHEN ws.uc2 <> 0 THEN ws.uc2/st.tt ELSE 1.0/(st.tt*2.0) END))/(dl.doclen+2500.0))) AS s
         |  FROM cand c
         |  JOIN dl ON dl.doc_id = c.doc_id
         |  LEFT JOIN tf ON tf.doc_id = c.doc_id
         |  LEFT JOIN od ON od.doc_id = c.doc_id
         |  LEFT JOIN uw1 ON uw1.doc_id = c.doc_id
         |  LEFT JOIN uw2 ON uw2.doc_id = c.doc_id
         |  CROSS JOIN st CROSS JOIN cf CROSS JOIN ws
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin,

    // compacted dictionary == dictionary over surviving docs
    "q_compact" ->
      s"""WITH d AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
         |  FROM documents WHERE doc_id % 7 <> 0
         |), dl AS (
         |  SELECT doc_id, len(toks) AS doclen FROM d
         |), tok AS (
         |  SELECT doc_id, unnest(toks) AS term FROM d
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id
         |)
         |SELECT p.term, count(*) AS df, sum(p.tf)::BIGINT AS ctf,
         |       max(dl.doclen) AS max_dl, min(dl.doclen) AS min_dl
         |FROM p JOIN dl USING(doc_id)
         |GROUP BY p.term ORDER BY p.term""".stripMargin,

    // FDM: q_sdm's pieces + the 3-term spans — od triple (adjacent
    // positions) and uw12 triple (every anchor whose FIRST occurrence of
    // each other term after it is ≤11 positions away — the pooled-scan
    // walk for k=3); children fold in span order (t1t2, t1t2t3, t2t3)
    "q_fdm" -> {
      // anchored triple matches: extent = (anchor, max(first o1, first
      // o2) + 1); the per-doc count applies the greedy non-overlap fold
      // like the kernel (pooled anchors of all three types)
      def uwAnchor(anchor: String, o1: String, o2: String, d: Int) =
        s"""SELECT m1.doc_id, m1.pos AS mb, greatest(m1.np1, m2.np2) + 1 AS me
           |    FROM (SELECT a.doc_id, a.pos, min(b.pos) AS np1 FROM tok a
           |          JOIN tok b ON a.doc_id=b.doc_id AND b.pos>a.pos AND b.term='$o1'
           |          WHERE a.term='$anchor' GROUP BY a.doc_id, a.pos) m1
           |    JOIN (SELECT a.doc_id, a.pos, min(b.pos) AS np2 FROM tok a
           |          JOIN tok b ON a.doc_id=b.doc_id AND b.pos>a.pos AND b.term='$o2'
           |          WHERE a.term='$anchor' GROUP BY a.doc_id, a.pos) m2
           |      ON m1.doc_id=m2.doc_id AND m1.pos=m2.pos
           |    WHERE m1.np1 - m1.pos <= $d AND m2.np2 - m2.pos <= $d""".stripMargin
      def uwPair(x: String, y: String, d: Int) = SdmUwPairSql(x, y, d)
      // OOV guard exactly as TermScoreFunctionFactory: zero collection
      // occurrences → cf = 1/(2·|C|) (the od/uw TRIPLES can be absent
      // from a small corpus)
      val lnT = (tf: String, cf: String) =>
        s"ln(($tf + 2500.0 * (CASE WHEN $cf <> 0 THEN $cf/st.tt ELSE 1.0/(st.tt*2.0) END))/(dl.doclen+2500.0))"
      s"""$DTok, st AS (
         |  SELECT (SELECT sum(doclen) FROM dl)::DOUBLE AS tt
         |), cf AS (
         |  SELECT (SELECT count(*) FROM tok WHERE term='data')  AS c1,
         |         (SELECT count(*) FROM tok WHERE term='merge') AS c2,
         |         (SELECT count(*) FROM tok WHERE term='query') AS c3
         |), tf AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE term='data')  AS t1,
         |    count(*) FILTER (WHERE term='merge') AS t2,
         |    count(*) FILTER (WHERE term='query') AS t3
         |  FROM tok WHERE term IN ('data','merge','query') GROUP BY doc_id
         |), od AS (
         |  SELECT a.doc_id,
         |    count(*) FILTER (WHERE a.term='data')  AS o1,
         |    count(*) FILTER (WHERE a.term='merge') AS o2
         |  FROM tok a JOIN tok b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
         |  WHERE (a.term='data' AND b.term='merge') OR (a.term='merge' AND b.term='query')
         |  GROUP BY a.doc_id
         |), od3 AS (
         |  SELECT a.doc_id, count(*) AS o
         |  FROM tok a JOIN tok b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
         |       JOIN tok c ON a.doc_id=c.doc_id AND c.pos=a.pos+2
         |  WHERE a.term='data' AND b.term='merge' AND c.term='query'
         |  GROUP BY a.doc_id
         |), uw1 AS (
         |  ${uwPair("data", "merge", 7)}
         |), uw2 AS (
         |  ${uwPair("merge", "query", 7)}
         |), uw3 AS (
         |  SELECT doc_id, $UwFoldSql AS u FROM (
         |    ${uwAnchor("data", "merge", "query", 11)}
         |    UNION ALL
         |    ${uwAnchor("merge", "data", "query", 11)}
         |    UNION ALL
         |    ${uwAnchor("query", "data", "merge", 11)}
         |  ) GROUP BY doc_id
         |), ws AS (
         |  SELECT (SELECT coalesce(sum(o1),0) FROM od)::DOUBLE AS oc1,
         |         (SELECT coalesce(sum(o2),0) FROM od)::DOUBLE AS oc2,
         |         (SELECT coalesce(sum(o),0) FROM od3)::DOUBLE AS oc3,
         |         (SELECT coalesce(sum(u),0) FROM uw1)::DOUBLE AS uc1,
         |         (SELECT coalesce(sum(u),0) FROM uw2)::DOUBLE AS uc2,
         |         (SELECT coalesce(sum(u),0) FROM uw3)::DOUBLE AS uc3
         |), cand AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data','merge','query')
         |), sc AS (
         |  SELECT c.doc_id,
         |    (0.85/(0.85+0.1+0.05)) * ((1.0/3 * ${lnT("coalesce(tf.t1,0)", "cf.c1")}
         |       + 1.0/3 * ${lnT("coalesce(tf.t2,0)", "cf.c2")})
         |       + 1.0/3 * ${lnT("coalesce(tf.t3,0)", "cf.c3")})
         |  + (0.1/(0.85+0.1+0.05)) * ((1.0/3 * ${lnT("coalesce(od.o1,0)", "ws.oc1")}
         |       + 1.0/3 * ${lnT("coalesce(od3.o,0)", "ws.oc3")})
         |       + 1.0/3 * ${lnT("coalesce(od.o2,0)", "ws.oc2")})
         |  + (0.05/(0.85+0.1+0.05)) * ((1.0/3 * ${lnT("coalesce(uw1.u,0)", "ws.uc1")}
         |       + 1.0/3 * ${lnT("coalesce(uw3.u,0)", "ws.uc3")})
         |       + 1.0/3 * ${lnT("coalesce(uw2.u,0)", "ws.uc2")}) AS s
         |  FROM cand c
         |  JOIN dl ON dl.doc_id = c.doc_id
         |  LEFT JOIN tf ON tf.doc_id = c.doc_id
         |  LEFT JOIN od ON od.doc_id = c.doc_id
         |  LEFT JOIN od3 ON od3.doc_id = c.doc_id
         |  LEFT JOIN uw1 ON uw1.doc_id = c.doc_id
         |  LEFT JOIN uw2 ON uw2.doc_id = c.doc_id
         |  LEFT JOIN uw3 ON uw3.doc_id = c.doc_id
         |  CROSS JOIN st CROSS JOIN cf CROSS JOIN ws
         |)
         |SELECT doc_id, round(s, 6) AS score FROM sc
         |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin
    },

    // clarity = KL(RM1 ‖ collection LM)/retained mass, in bits — the
    // rm1 chain is q_rm3_terms' verbatim, then one KL aggregate
    "q_clarity" ->
      s"""$DTok, st AS (
         |  SELECT (SELECT count(*) FROM d) AS n, (SELECT sum(doclen) FROM dl) AS tt
         |), p AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(BmTerms)} GROUP BY term, doc_id
         |), ts AS (
         |  SELECT term, count(*) AS df FROM p GROUP BY term
         |), sc AS (
         |  SELECT p.doc_id,
         |    sum( (ln((st.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2) * p.tf
         |         / (p.tf + 0.3 + (0.9 / (st.tt::DOUBLE / st.n)) * dl.doclen) ) AS s
         |  FROM p JOIN ts USING(term) JOIN dl USING(doc_id) CROSS JOIN st
         |  GROUP BY p.doc_id
         |), fb AS (
         |  SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 10
         |), mx AS (
         |  SELECT max(s) AS m FROM fb
         |), ex AS (
         |  SELECT doc_id, exp(s - mx.m) AS e FROM fb CROSS JOIN mx
         |), post AS (
         |  SELECT doc_id, e / (SELECT sum(e) FROM ex) AS w FROM ex
         |), tw AS (
         |  SELECT cnt.term, sum(post.w * cnt.tf::DOUBLE / dl.doclen) AS weight
         |  FROM (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term) cnt
         |  JOIN post USING(doc_id) JOIN dl USING(doc_id)
         |  WHERE regexp_matches(cnt.term, '^[a-zA-Z0-9]+$$')
         |  GROUP BY cnt.term HAVING sum(post.w * cnt.tf::DOUBLE / dl.doclen) > 0
         |), sel AS (
         |  SELECT term, weight FROM tw ORDER BY weight DESC, term LIMIT 10
         |), ctfs AS (
         |  SELECT term, count(*) AS ctf FROM tok GROUP BY term
         |)
         |SELECT round(
         |  sum(sel.weight * ln(sel.weight / (ctfs.ctf::DOUBLE / (SELECT tt FROM st)::DOUBLE)))
         |  / sum(sel.weight) / ln(2), 6) AS clarity
         |FROM sel JOIN ctfs USING(term)""".stripMargin
  )
}
