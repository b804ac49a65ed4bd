package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ann.{Ivf, Knn}
import graft.config.LshConfig
import graft.dedup.Dedup
import graft.events.EventOps
import graft.lsh.{LshIndex, LshParams}
import graft.ops.Relational
import graft.text.TextAnalysis

/** Driver contract — see /root/repo/SURVEY.md §2 (one queries entry per
  * inventory row) and §4 (oracle determinism rules).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    GraftFunctions.register(s)
    // scale-gated input spread (see Tables.spread): parallelizes the
    // per-row kernel work of every driver row when the test-SF scan
    // arrives as a single partition; no-op at production partition
    // counts, results partition-order independent by gate discipline
    Tables.spread(Tables.load(s, dir, name))
  }

  /** Unspread loader for rows that spread ONCE at a better point of
    * their own plan (e.g. mm_media_triage: one exchange on the unioned
    * corpus instead of one per synth lane).
    */
  private def tNarrow(s: SparkSession, dir: String, name: String): DataFrame = {
    GraftFunctions.register(s)
    Tables.load(s, dir, name)
  }

  /** Plant sentence terminators into the unpunctuated test corpus,
    * closed-form (mirrored verbatim by the sentence oracles): two
    * word→terminator rewrites plus a rotating tail — a multi-sentence
    * run with doubled terminators, an unterminated fragment, or
    * nothing.
    */
  private def plantSentences(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    docs.withColumn("text", concat(
      regexp_replace(regexp_replace(col("text"), " merge ", ". "),
        " join ", "! "),
      when(d % 3 === 0, lit(" Tail one. And two!! Third?"))
        .when(d % 3 === 1, lit(" No terminator tail"))
        .otherwise(lit(""))))
  }

  /** One session temp root, removed on JVM exit — per-query scratch
    * dirs live under it so repeated invocations don't accumulate
    * stray /tmp entries (round-1 verdict nit #10).
    */
  private lazy val tempRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_entry")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      } catch { case _: Throwable => () }))
    p
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(tempRoot, prefix).toString

  /** The streaming file source requires a directory; stage the single
    * parquet file into a temp dir via symlink.
    */
  private def streamDir(dir: String, name: String): String = {
    val tmp = java.nio.file.Paths.get(tempDir(s"stream_$name"))
    java.nio.file.Files.createSymbolicLink(
      tmp.resolve(s"$name.parquet"), java.nio.file.Paths.get(s"$dir/$name.parquet"))
    tmp.toString
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(t(spark, "/root/testdata/sf0.001", "lineitem"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- E. relational/analytic core ---
    "q1_agg" -> ((s, dir) => Relational.pricingSummary(t(s, dir, "lineitem"))),
    "q3_join" -> ((s, dir) =>
      Relational.segmentRevenue(t(s, dir, "customer"), t(s, dir, "orders"),
          t(s, dir, "lineitem"))
        .orderBy(col("o_orderkey"))),
    "q5_region_join" -> ((s, dir) => Relational.localSupplierRevenue(
      t(s, dir, "region"), t(s, dir, "nation"), t(s, dir, "supplier"),
      t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"))),
    "q_topn_group" -> ((s, dir) => Relational.topNPerGroup(t(s, dir, "orders"))),
    "q_profile" -> ((s, dir) => graft.ops.Profile.profile(t(s, dir, "orders"))),
    // market-basket co-occurrence: per-order pair explosion bounded by
    // basket size, one keyed count, distributed top-k
    "q_cooccurrence" -> ((s, dir) => Relational.coOccurrence(t(s, dir, "lineitem"))),
    // directed rules with confidence + lift over the same bounded
    // pair explosion; integer-product IEEE ratios → hash-exact
    // iterative graph analytics in fixed-point integer arithmetic:
    // PageRank over the part co-purchase graph — one edge⋈rank join +
    // one keyed partial sum per iteration, lineage cut per round (the
    // star-contraction discipline applied to power iteration); int64
    // everywhere makes even the iterative result hash-exact
    "q_pagerank" -> ((s, dir) =>
      graft.ops.Graph.pageRankQuery(t(s, dir, "lineitem"))),
    // seeded-teleport variant: rank = proximity to a trusted/topical
    // node set (the graph-side "select data near a target" primitive
    // pairing with DSIR); seeds broadcast onto the degree table, per-
    // iteration plan shape identical to the uniform variant
    "q_pagerank_personalized" -> ((s, dir) =>
      graft.ops.Graph.personalizedPageRankQuery(t(s, dir, "lineitem"))),
    "q_association_rules" -> ((s, dir) =>
      Relational.associationRules(t(s, dir, "lineitem"))),
    // the Markov chain behind top_paths: P(to | from) per consecutive
    // user pair, integer-ratio division → hash-exact
    "events_transitions" -> ((s, dir) => EventOps.transitions(t(s, dir, "events"))),
    // crawl-to-crawl diff: added/removed/changed/unchanged per doc on
    // the dedup fingerprint; new crawl synthesized deterministically
    "corpus_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val id = col("doc_id")
      val base = d.select(id, col("text"))
      val newC = base.filter(id % 10 =!= 0)
        .select(id, when(id % 7 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text")).as("text"))
        .unionByName(base.filter(id % 13 === 0)
          .select((id + 10000000L).as("doc_id"), col("text")))
      graft.ops.Pipeline.corpusDiff(base, newC).orderBy(col("doc_id"))
    }),
    // exact pairwise overlap matrix across sources: fingerprint-keyed
    // self-join (never all-pairs docs); every doc_id % 7 == 0 page is
    // rewritten to one of 3 source-independent templates so the
    // cross-source overlap actually binds
    "source_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(lit("shared boilerplate page "),
            (col("doc_id") % 3).cast("string")))
          .otherwise(col("text")))
      graft.ops.Pipeline.sourceOverlap(docs, col("source"))
        .orderBy(col("grp_a"), col("grp_b"))
    }),
    // sketch-tier cross-corpus overlap: one mergeable HLL per corpus
    // (kilobytes), inclusion-exclusion on the merged union — the
    // continuous "is this crawl worth ingesting" probe at 100 TB where
    // the exact full-outer diff cannot run per check; rows-only (HLL
    // binaries have no DuckDB twin), tolerance-spec'd vs the exact diff
    "corpus_overlap_sketch" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val id = col("doc_id")
      val base = d.select(id, col("text"))
      val newC = base.filter(id % 10 =!= 0)
        .select(id, when(id % 7 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text")).as("text"))
        .unionByName(base.filter(id % 13 === 0)
          .select((id + 10000000L).as("doc_id"), col("text")))
      graft.ops.Pipeline.corpusOverlapSketch(base, newC)
    }),
    "q_window_running" -> ((s, dir) =>
      Relational.runningCustomerSpend(t(s, dir, "orders"))
        .orderBy(col("o_custkey"), col("o_orderkey"))),
    "events_sessionize" -> ((s, dir) =>
      EventOps.sessionize(t(s, dir, "events"))
        .orderBy(col("user_id"), col("session_seq"))),
    "events_windowed" -> ((s, dir) => EventOps.hourlyRollup(t(s, dir, "events"))),
    "events_cube" -> ((s, dir) => EventOps.cubeRollup(t(s, dir, "events"))),
    "events_pivot" -> ((s, dir) => EventOps.pivotByType(t(s, dir, "events"))),
    "events_histogram" -> ((s, dir) => EventOps.valueHistogram(t(s, dir, "events"))),
    "events_percentiles" -> ((s, dir) => EventOps.valuePercentiles(t(s, dir, "events"))),
    // rows-only: the GK sketch has no cross-engine oracle (declared);
    // accuracy property-spec'd vs exact in RelationalSpec
    "events_approx_percentiles" -> ((s, dir) =>
      EventOps.approxValuePercentiles(t(s, dir, "events"))),
    "events_range_join" -> ((s, dir) =>
      EventOps.withinRangePairs(t(s, dir, "events"))),
    "events_funnel" -> ((s, dir) =>
      EventOps.funnel(t(s, dir, "events")).orderBy(col("user_id"))),
    "events_retention" -> ((s, dir) => EventOps.retention(t(s, dir, "events"))),
    // rows-only: HLL sketches have no cross-engine oracle (declared);
    // accuracy property-spec'd vs exact in RelationalSpec
    "events_retention_approx" -> ((s, dir) =>
      EventOps.retentionApprox(t(s, dir, "events"))),
    "events_streaks" -> ((s, dir) =>
      EventOps.streaks(t(s, dir, "events")).orderBy(col("user_id"))),
    "events_anomaly" -> ((s, dir) =>
      EventOps.valueAnomalies(t(s, dir, "events")).orderBy(col("event_id"))),
    // median/MAD modified z-score: 50% breakdown point where the
    // moment z-score suffers outlier masking; exact interpolated
    // medians are cross-engine bitwise
    "events_anomaly_robust" -> ((s, dir) =>
      EventOps.robustAnomalies(t(s, dir, "events")).orderBy(col("event_id"))),
    "events_props_agg" -> ((s, dir) => EventOps.propsAgg(t(s, dir, "events"))),
    "events_top_paths" -> ((s, dir) => EventOps.topPaths(t(s, dir, "events"))),
    "events_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      EventOps.asofJoin(ev, ev.filter(col("event_type") === "purchase"))
        .orderBy(col("event_id"))
    }),
    // --- D. text analysis ---
    // per-doc signal rows sort HERE (r12): the operators return
    // unordered — no global sort in the production API path
    "text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenStats(t(s, dir, "documents")).orderBy(col("doc_id"))),
    // Unicode tokenizer gate: deterministic multilingual tails
    // (Cyrillic/accented-Latin/CJK/Arabic/Greek) appended per doc and
    // every (pos, token) hash-compared vs the DuckDB mirror — proves
    // the token kernel cross-engine on non-Latin text (r11 verdict #1)
    "text_tokens_unicode" -> ((s, dir) =>
      TextAnalysis.tokenDumpMultilingual(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("pos"))),
    // Unicode NFC canonical composition: the pass a multilingual crawl
    // needs before any byte-keyed hash operator; planted decomposed
    // suffixes make it observable on the ASCII test corpus
    "text_normalize" -> ((s, dir) =>
      TextAnalysis.normalizeQuery(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "text_entropy" -> ((s, dir) =>
      TextAnalysis.charEntropy(t(s, dir, "documents")).orderBy(col("doc_id"))),
    // Flesch-Kincaid grade + Flesch ease: the dictionary-free
    // readability battery (vowel-group syllables, floor-1 guards) —
    // natural prose vs keyword soup vs legalese; pure narrow map
    "text_readability" -> ((s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "text_compression" -> ((s, dir) =>
      TextAnalysis.compressionStats(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents")).orderBy(col("doc_id"))),
    // Unicode script histogram + dominant-script routing (the stage
    // BEFORE langid on a real crawl): ONE native codegen pass counts
    // all 11 tracked scripts; deterministic tails put every script in
    // play and both engines read tails + script list from the same
    // Scala constants — hash-exact
    "text_scripts" -> ((s, dir) =>
      TextAnalysis.scriptProfileMultilingual(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // corpus language/script mix: the monitoring rollup a multilingual
    // ingest watches per batch — per-doc dominant script x predicted
    // language (same inline faces as the per-doc rows), ONE keyed agg
    // over a ~60-group space, share over the tiny aggregate
    "corpus_language_mix" -> ((s, dir) =>
      TextAnalysis.languageMixPlanted(t(s, dir, "documents"))
        .orderBy(col("dominant_script"), col("pred_lang"))),
    // HTML -> text extraction (the stage before ANY text operator on
    // a crawl): script/style/comment block drop, tag strip, ordered
    // entity decode, whitespace collapse + the text-to-html ratio and
    // link/paragraph counts a curation pipeline filters on; planted
    // scaffold puts every rule in play — hash-exact
    "text_html_extract" -> ((s, dir) =>
      graft.text.Html.extractPlanted(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // page metadata: title / h1s / heading density / meta
    // description — the per-page fields search+dedup+quality key on
    // before body extraction; entities (incl. numeric refs) decode
    // through the same single-pass kernel; every 6th doc drops the
    // head (null-lane) — hash-exact via the shared scaffold constants
    "text_html_meta" -> ((s, dir) => {
      val pages = graft.text.Html.metaPlanted(t(s, dir, "documents"))
      graft.text.Html.pageMeta(pages, col("html"))
        .orderBy(col("doc_id"))
    }),
    // sitemap ingest: the crawl stack's SEED source — urlset AND
    // sitemapindex kinds, loc/lastmod/priority per entry, loc
    // entity-decoded (the required &amp; escaping in query strings);
    // invalid blobs yield zero rows like the archive walks
    "web_sitemap" -> ((s, dir) => {
      val xmls = graft.sources.Sitemap.synthFromDocs(t(s, dir, "documents"))
      graft.sources.Sitemap.parse(xmls, col("xml"))
        .select(col("doc_id"), col("kind"), col("entry_idx"), col("loc"),
          col("lastmod"), col("priority"))
        .orderBy(col("doc_id"), col("entry_idx"))
    }),
    // RSS/Atom feed parse (r15): the crawl-discovery surface next to
    // the sitemap walk — one row per item/entry with CDATA and
    // entity-decode lanes, RSS link-element vs Atom href-attribute
    // extraction; every field re-derived closed-form by the oracle
    "web_feed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val nI = d % 3 + 1
      def titleOf(i: org.apache.spark.sql.Column) =
        when((d + i) % 3 === 1,
          concat(lit("<![CDATA[Item "), d, lit(" "), i, lit(" & raw]]>")))
          .when((d + i) % 3 === 2,
            concat(lit("Item "), d, lit(" "), i, lit(" &amp; co")))
          .otherwise(concat(lit("Item "), d, lit(" "), i))
      val pub = concat(lit("2026-01-"),
        lpad((d % 28 + 1).cast("string"), 2, "0"))
      val items = array_join(transform(
        filter(sequence(lit(0L), lit(2L)), j => j < nI), i =>
          when(d % 2 === 0, concat(
            lit("<item><title>"), titleOf(i),
            lit("</title><link>http://ex.com/"), d, lit("/"), i,
            lit("</link><guid>g-"), d, lit("-"), i,
            lit("</guid><pubDate>"), pub, lit("</pubDate></item>")))
          .otherwise(concat(
            lit("<entry><title>"), titleOf(i),
            lit("</title><link href=\"http://ex.com/"), d, lit("/"), i,
            lit("\"/><id>g-"), d, lit("-"), i,
            lit("</id><updated>"), pub, lit("</updated></entry>")))), "\n")
      val xml = when(d % 10 === 0, col("text"))
        .otherwise(when(d % 2 === 0, concat(
          lit("<?xml version=\"1.0\"?>\n<rss version=\"2.0\"><channel>" +
            "<title>Feed &amp; "), d,
          lit("</title><link>http://ex.com</link>\n"), items,
          lit("\n</channel></rss>")))
        .otherwise(concat(
          lit("<?xml version=\"1.0\"?>\n" +
            "<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
            "<title>Feed &amp; "), d, lit("</title>\n"), items,
          lit("\n</feed>"))))
      graft.sources.Feed.items(docs.select(d, xml.as("xml")), col("xml"))
        .select(d, col("feed_valid"), col("feed_type"), col("feed_title"),
          col("item_idx"), col("title"), col("link"), col("guid"),
          col("published"))
        .orderBy(d, col("item_idx"))
    }),
    // SRT/WebVTT subtitle parse (r15): the transcript grain of a
    // speech/video corpus — cue timings (comma vs dot millis, the
    // VTT hour-less form, cue settings), NOTE/identifier lines,
    // inline-markup strip + VTT entity decode; the LAST cue carries
    // the doc's REAL text so the oracle match proves live data rode
    // the wire
    "text_subtitles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val raw = when(d % 10 === 0, col("text").cast("binary"))
        .otherwise(org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.SubtitleSynth(
            org.apache.spark.sql.GraftColumnBridge.expression(d),
            org.apache.spark.sql.GraftColumnBridge.expression(col("text")))))
      graft.sources.Subtitles.cues(docs.select(d, raw.as("raw")), col("raw"))
        .select(d, col("sub_valid"), col("kind"), col("cue_idx"),
          col("start_ms"), col("end_ms"), col("dur_ms"),
          col("text").as("cue_text"))
        .orderBy(d, col("cue_idx"))
    }),
    // robots.txt PARSING: raw fetched robots bytes → the
    // (host, path_prefix, allow) rules table applyRobots consumes —
    // the last mile of the robots chain (fetch → parse → gate);
    // grouping per RFC 9309 essentials (consecutive UA lines one
    // group, comments/blank/Sitemap lines inert, case-insensitive
    // fields, empty-path no-ops dropped); the oracle replays the
    // grouping relationally (window chain) vs Spark's array fold —
    // a hash match pins the semantics, not the mechanism
    "robots_parse" -> ((s, dir) => {
      val r = graft.ops.Curation.synthRobotsTxt(t(s, dir, "documents"))
      graft.ops.Curation.parseRobotsTxt(r, col("host"), col("robots_txt"),
          agent = "botA")
        .select(col("doc_id"), col("host"), col("rule_idx"),
          col("path_prefix"), col("allow"))
        .orderBy(col("doc_id"), col("rule_idx"))
    }),
    // charset detection + decode (r15): the ingest step BEFORE any
    // text operator — BOM sniff, strict RFC 3629 UTF-8 validation,
    // UTF-16 decode; the gate re-encodes the corpus per lane and the
    // decoded text must round-trip VERBATIM (the oracle compares the
    // source column directly — a hash match proves the byte-level
    // decode); the BOM-less heuristic and Latin-1 fallback are
    // spec-pinned, not gate lanes
    "text_charset" -> ((s, dir) => {
      val media = graft.sources.Charset.synthFromDocs(t(s, dir, "documents"))
      graft.sources.Charset.decode(media)
        .select(col("doc_id"), col("charset"), col("had_bom"),
          col("confident"), col("text"))
        .orderBy(col("doc_id"))
    }),
    // JSONL ingest: the LLM-corpus wire format (one JSON object per
    // line, nested metadata, optional fields, malformed lines) — both
    // engines build the same bytes and parse with their OWN json
    // stack, so the hash match proves two independent JSON parsers
    // agree on every decoded field incl. escape semantics
    "text_jsonl_parse" -> ((s, dir) => {
      val lines = graft.sources.Jsonl.synthLines(t(s, dir, "documents"))
      graft.sources.Jsonl.parse(lines, col("line"))
        .orderBy(col("doc_id"))
    }),
    // rows-only (float fit, like quality_classifier): plants a
    // deterministic multilingual corpus, trains multinomial LR on the
    // marker heuristic's own labels, scores the MARKER-STRIPPED
    // variant next to the heuristic (which collapses to 'und' there);
    // recall bounds + plan/round-trip contracts in LangClassifierSpec
    "text_langid_learned" -> ((s, dir) =>
      graft.text.LangClassifier.trainScoreQuery(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // rows-only like text_langid_learned; the model-at-rest round trip
    // through the driver gate (save/load bitwise is spec'd). Trains at
    // a reduced sampleFrac: this row proves the save→load→score
    // lifecycle — fit quality is the non-persisted twin's job, and at
    // 100 TB the model trains once, so the bench shouldn't pay two
    // full fits per round
    "text_langid_learned_persisted" -> ((s, dir) =>
      graft.text.LangClassifier.trainSaveScoreQuery(t(s, dir, "documents"),
          "graft_lang_model_rt", path = Some(s"${tempDir("lang_model")}/tbl"),
          sampleFrac = 0.1)
        .orderBy(col("doc_id"))),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "text_chunks" -> ((s, dir) =>
      TextAnalysis.chunks(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_idx"))),
    // per-doc keyword extraction: tf × rational idf (the BM25 idf
    // argument, log dropped — monotone, so the ranking is familiar
    // and every score stays exact integer counts + two IEEE
    // divisions); bounded top-k per doc, never a rank window
    "text_keywords" -> ((s, dir) =>
      TextAnalysis.keywords(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("rank"))),
    // sentence segmentation with provenance: terminal-punctuation
    // rule, RE2-portable so the oracle replays it verbatim; the
    // unpunctuated corpus gets terminators PLANTED closed-form
    // (word→'. '/'! ' rewrites + rotating tails incl. multi-terminator
    // runs and an unterminated fragment), so multi-sentence splits,
    // trims and the fragment lane all actually fire
    "text_sentences" -> ((s, dir) =>
      TextAnalysis.sentences(plantSentences(t(s, dir, "documents")))
        .select(col("doc_id"), col("sent_idx"), col("n_chars"),
          col("n_words"), col("sent_hash"))
        .orderBy(col("doc_id"), col("sent_idx"))),
    // sentence-AWARE chunking: greedy fill to a char budget as a
    // per-document left fold (separator-accumulator), map-only; the
    // oracle replays the identical fold via list_reduce
    "text_sentence_chunks" -> ((s, dir) =>
      TextAnalysis.sentenceChunks(plantSentences(t(s, dir, "documents")))
        .orderBy(col("doc_id"), col("chunk_idx"))),
    "text_dup_chunk_ratio" -> ((s, dir) =>
      TextAnalysis.dupChunkRatio(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "chunks_dedup" -> ((s, dir) =>
      TextAnalysis.chunksDedup(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "text_decontaminate" -> ((s, dir) => {
      val sp = graft.ops.Sampling.assignSplits(t(s, dir, "documents"), col("doc_id"))
      Dedup.decontaminate(
          sp.filter(col("split") === "train"), sp.filter(col("split") === "test"))
        .orderBy(col("doc_id"))
    }),
    // fuzzy (near-dup) decontamination: same split gate, MinHash band
    // candidates + exact-Jaccard verify at 0.5 against the eval side
    "text_decontaminate_fuzzy" -> ((s, dir) => {
      val sp = graft.ops.Sampling.assignSplits(t(s, dir, "documents"), col("doc_id"))
      Dedup.decontaminateFuzzy(
          sp.filter(col("split") === "train"), sp.filter(col("split") === "test"))
        .orderBy(col("doc_id"))
    }),
    "text_dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "text_dedup_substrings" -> ((s, dir) =>
      Dedup.removeDupSpans(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "text_pii" -> ((s, dir) => graft.text.Pii.scrubQuery(t(s, dir, "documents"))),
    "sample_quality_filter" -> ((s, dir) =>
      TextAnalysis.qualityFilter(t(s, dir, "documents")).orderBy(col("doc_id"))),
    // rows-only: MLlib L-BFGS float-fold order is partitioning-dependent
    // in the last ulps (declared); planted-separation, sigmoid-recount,
    // no-UDF/no-Window serving-plan, and sampled-vs-full contracts in
    // QualityClassifierSpec
    "quality_classifier" -> ((s, dir) =>
      graft.text.QualityClassifier.trainScoreQuery(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // rows-only like quality_classifier; the model-at-rest round trip:
    // train (sampled) → saveModel (weight rows + params in
    // TBLPROPERTIES) → loadModel → score from the LOADED weights —
    // loaded-≡-fresh is spec'd bitwise in QualityClassifierSpec.
    // Reduced sampleFrac: the row proves the lifecycle, not the fit
    // (the non-persisted twin trains at the full driver-row frac)
    "quality_classifier_persisted" -> ((s, dir) =>
      graft.text.QualityClassifier.trainSaveScoreQuery(
          t(s, dir, "documents"), "graft_quality_model_rt",
          path = Some(s"${tempDir("quality_model")}/tbl"), sampleFrac = 0.1)
        .orderBy(col("doc_id"))),
    // rows-only: the GK sketch threshold has no cross-engine oracle
    // (declared); ≥99% keep-set agreement with the exact rank cut is
    // property-spec'd in RelationalSpec
    "sample_quality_filter_sketch" -> ((s, dir) =>
      TextAnalysis.qualityFilterSketch(t(s, dir, "documents"))),
    "text_winnow" -> ((s, dir) =>
      TextAnalysis.winnow(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("fingerprint"))),
    "text_containment" -> ((s, dir) =>
      TextAnalysis.containment(t(s, dir, "documents"),
          maxFingerprintDf = Some(TextAnalysis.DefaultMaxFingerprintDf))
        .orderBy(col("a"), col("b"))),
    "text_gopher" -> ((s, dir) =>
      TextAnalysis.gopherQuality(t(s, dir, "documents")).orderBy(col("doc_id"))),
    // markdown structure extraction (r15): the gate synthesizes a
    // deterministic markdown document around each doc's own text
    // (headings/quotes/lists/fences/links/images/body paragraph) and
    // the kernel's line scan must recount every structural feature —
    // including the prose word count over the REAL text snippet,
    // which the oracle recomputes with its own tokenizer
    "text_markdown" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      def rng(n: org.apache.spark.sql.Column, cap: Int) =
        filter(sequence(lit(0L), lit(cap - 1L)), j => j < n)
      val headings = array_join(transform(sequence(lit(0L), d % 3), i =>
        concat(lit("######").substr(lit(1), ((d + i) % 6 + 1).cast("int")),
          lit(" head "), d, lit(" "), i)), "\n")
      val quotes = array_join(transform(rng(d % 5, 4), j =>
        concat(lit("> q"), j)), "\n")
      val lists = array_join(transform(rng(d % 4, 3), j =>
        concat(lit("- item "), j)), "\n")
      val ordered = array_join(transform(rng(d % 3, 2), j =>
        concat((j + 1).cast("string"), lit(". num "), j)), "\n")
      val fence = concat(lit("```\n"),
        array_join(transform(rng(d % 4 + 1, 4), j =>
          concat(lit("code "), j, lit(" # not a heading"))), "\n"),
        lit("\n```"))
      val links = concat(lit("see "),
        array_join(transform(rng(d % 2 + 1, 2), j =>
          concat(lit("[t"), j, lit("](http://e.com/"), d, lit(")"))), " "),
        when(d % 2 === 1, lit(" ![a](http://e.com/i)")).otherwise(lit("")))
      val body = concat(lit("p"), d, lit(" "),
        regexp_replace(substring(col("text"), 1, 40), "[\\n\\r]", " "))
      val md = concat_ws("\n", headings, quotes, lists, ordered, fence,
        links, body)
      val st = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.MarkdownStats(
          org.apache.spark.sql.GraftColumnBridge.expression(md)))
      docs.select(d, st.as("__m"))
        .select(d, col("__m.n_headings"), col("__m.max_heading_level"),
          col("__m.n_code_blocks"), col("__m.n_code_lines"),
          col("__m.n_list_items"), col("__m.n_links"), col("__m.n_images"),
          col("__m.n_quote_lines"), col("__m.n_prose_words"))
        .orderBy(d)
    }),
    "text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "corpus_stats" -> ((s, dir) => TextAnalysis.corpusStats(t(s, dir, "documents"))),
    "corpus_rollup" -> ((s, dir) => TextAnalysis.corpusRollup(t(s, dir, "documents"))),
    // rows-only: HLL sketches have no cross-engine oracle (declared);
    // accuracy property-spec'd vs exact in TextKnnSpec
    "corpus_approx_distinct" -> ((s, dir) =>
      TextAnalysis.corpusApproxDistinct(t(s, dir, "documents"))),
    "sample_split" -> ((s, dir) =>
      graft.ops.Sampling.assignSplits(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("source"), col("lang"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))),
    "sample_temperature" -> ((s, dir) =>
      graft.ops.Sampling.temperatureSample(t(s, dir, "documents"), col("doc_id"))),
    // A-Res weighted sampling without replacement: longer docs carry
    // proportionally more probability mass; DetLn + exact-rational
    // hash uniforms make even the "random" draw hash-exact
    "sample_weighted" -> ((s, dir) =>
      graft.ops.Sampling.weightedSample(t(s, dir, "documents"),
        col("doc_id"), length(col("text")) + 1)),
    "sample_stratified" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedSample(t(s, dir, "documents"), col("doc_id"))),
    // URL/domain curation — the web-corpus stage BEFORE any content
    // filter (RefinedWeb-style URL filtering): parse (pure codegen
    // projection), per-domain quota (bounded top-k aggregate, never a
    // rank window), broadcast blocklist anti-join with subdomain
    // semantics, and the per-domain monitoring profile. The URL column
    // is synthesized deterministically (testdata has none); the
    // operators are the production ones
    "url_domains" -> ((s, dir) =>
      graft.ops.Curation.withUrlParts(
          graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url"))
        .select(col("doc_id"), col("url"), col("host"), col("domain"),
          col("tld"), col("path"), col("path_depth"))
        .orderBy(col("doc_id"))),
    // PSL-backed registered domains (r11 verdict #3): a deterministic
    // subset of hosts is rewritten onto multi-label public suffixes
    // (ccTLDs, a wildcard TLD, a wildcard-exception, a private-section
    // hosting suffix) and the PSL algorithm's registered domain is
    // hash-compared against the 2-label rule it replaces
    "url_domains_psl" -> ((s, dir) => {
      val u = graft.ops.Curation.synthUrls(t(s, dir, "documents"))
      val d = col("doc_id")
      val sfx = when(d % 7 === 1, lit(".co.uk"))
        .when(d % 7 === 2, lit(".com.au"))
        .when(d % 7 === 3, lit(".co.jp"))
        .when(d % 7 === 4, lit(".github.io"))
        .when(d % 7 === 5, lit(".ck"))
        .when(d % 7 === 6, lit(".www.ck"))
      val url2 = when(sfx.isNull, col("url")).otherwise(
        regexp_replace(col("url"), lit("\\.(com|org|net)/"),
          concat(sfx, lit("/"))))
      graft.ops.Curation.withUrlPartsPsl(
          u.withColumn("url", url2), col("url"))
        .select(d, col("host"), col("domain"), col("public_suffix"),
          col("domain_psl"))
        .orderBy(d)
    }),
    "domain_quota" -> ((s, dir) =>
      graft.ops.Curation.domainQuota(
          graft.ops.Curation.withUrlParts(
            graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url")),
          col("domain"), col("doc_id"), quota = 2)
        .orderBy(col("domain"), col("rn"))),
    // the quota LEDGER at rest — admission-ordered incremental ingest
    // (dedup_incremental's curation twin): batch 2's admissions fill
    // only the slots batch 1 left, deterministically
    "domain_quota_incremental" -> ((s, dir) => {
      val parsed = graft.ops.Curation.withUrlParts(
        graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url"))
      val tmp = tempDir("quota_ledger")
      graft.ops.Curation.initQuotaLedger(s, "graft_quota_ledger_rt",
        Some(s"$tmp/tbl"))
      val b1 = graft.ops.Curation.admitWithQuota(
          parsed.filter(col("doc_id") < 250), "graft_quota_ledger_rt", quota = 2)
        .withColumn("batch", lit(1L))
      val b2 = graft.ops.Curation.admitWithQuota(
          parsed.filter(col("doc_id") >= 250), "graft_quota_ledger_rt", quota = 2)
        .withColumn("batch", lit(2L))
      b1.unionByName(b2)
        .select(col("batch"), col("domain"), col("key"), col("admission_rank"))
        .orderBy(col("batch"), col("domain"), col("admission_rank"))
    }),
    "domain_blocklist" -> ((s, dir) => {
      import s.implicits._
      val parsed = graft.ops.Curation.withUrlParts(
        graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url"))
      val bl = Seq("src0.com", "src1.org", "src2.net").toDF("domain")
      graft.ops.Curation.dropBlocklisted(parsed, col("host"), bl)
        .select(col("doc_id"), col("host")).orderBy(col("doc_id"))
    }),
    // canonical URL normalization — the dedup/join key a crawl needs
    // before quota/blocklist/dedup fire; messy variants (fragments,
    // tracking params, unsorted queries, scheme case, trailing slash)
    // synthesized deterministically, canonicalized by the real operator
    "url_canonicalize" -> ((s, dir) => {
      val u = graft.ops.Curation.synthUrls(t(s, dir, "documents"))
      val d = col("doc_id")
      val messy = when(d % 5 === 1, concat(col("url"), lit("#section2")))
        .when(d % 5 === 2, concat(col("url"), lit("?utm_source=feed&b=2&a=1")))
        .when(d % 5 === 3, concat(col("url"), lit("?z=9&utm_campaign=x&a=1#frag")))
        .when(d % 5 === 4,
          concat(regexp_replace(col("url"), "^https://", "HTTPS://"), lit("/")))
        .otherwise(col("url"))
      u.select(d, messy.as("url_messy"))
        .withColumn("url_canonical",
          graft.ops.Curation.canonicalizeUrl(col("url_messy")))
        .withColumn("changed", col("url_messy") =!= col("url_canonical"))
        .orderBy(d)
    }),
    // the composed URL-curation decision: parse → canonicalize →
    // domain blocklist → per-domain quota → canonical-URL dedup →
    // content wordlist, one auditable flag row per doc (every stage
    // its own flag, keep = conjunction); URL determinants keyed on
    // doc_id div 2 so consecutive docs plant canonical collisions,
    // messy variants exercise canonicalization INSIDE the pipeline
    "pipeline_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val k = expr("(doc_id div 2) * 2")
      val withUrl = graft.ops.Curation.synthUrls(docs, key = k,
        sourceOf = Some(concat(lit("src"), pmod(k, lit(20L)).cast("string"))))
      val d = col("doc_id")
      val messy = when(d % 5 === 1, concat(col("url"), lit("#section2")))
        .when(d % 5 === 2, concat(col("url"), lit("?utm_source=feed&b=2&a=1")))
        .when(d % 5 === 3, concat(col("url"), lit("?z=9&utm_campaign=x&a=1#frag")))
        .when(d % 5 === 4,
          concat(regexp_replace(col("url"), "^https://", "HTTPS://"), lit("/")))
        .otherwise(col("url"))
      graft.ops.Curation.curateCorpus(withUrl.withColumn("url", messy), col("url"),
          Seq("src0.com", "src1.org", "src2.net"),
          Seq("slow", "merge", "window"), quota = 5, maxHits = 2)
        .orderBy(col("doc_id"))
    }),
    // WARC archive ingest: content-length-driven record split (the
    // kernel walk — a planted body contains the literal record magic,
    // so pattern splitting would mis-cut) + header-field projection
    "warc_records" -> ((s, dir) => {
      val u = graft.ops.Curation.synthUrls(t(s, dir, "documents"))
      val body1 = substring(col("text"), 1, 120)
      val body2 = concat(lit("meta WARC/1.0 inside body for doc "),
        col("doc_id").cast("string"))
      val blob = concat(
        graft.sources.Warc.record(lit("response"), col("url"), body1),
        graft.sources.Warc.record(lit("metadata"), col("url"), body2))
      graft.sources.Warc.parseRecords(
          graft.sources.Warc.splitRecords(
            u.select(col("doc_id"), blob.as("archive")), col("archive")),
          col("record"))
        .select(col("doc_id"), col("rec_idx"), col("warc_valid"),
          col("warc_type"), col("target_uri"), col("content_length"),
          col("body"), col("length_ok"))
        .orderBy(col("doc_id"), col("rec_idx"))
    }),
    // .warc.gz archive ingest (the Common Crawl wire layout): one
    // gzip member per record — the member walk is a REAL RFC 1952
    // decode (optional header fields, raw-DEFLATE inflate, CRC32 +
    // ISIZE verified), then the same Content-Length record walk; the
    // oracle recomputes the fields from text closed-form, so a hash
    // match proves the decompress → split → project chain
    "warc_gz_records" -> ((s, dir) => {
      val u = graft.ops.Curation.synthUrls(t(s, dir, "documents"))
      val body1 = substring(col("text"), 1, 120)
      val body2 = concat(lit("meta WARC/1.0 inside body for doc "),
        col("doc_id").cast("string"))
      val blob = concat(
        graft.sources.Warc.gzMember(lit("response"), col("url"), body1),
        graft.sources.Warc.gzMember(lit("metadata"), col("url"), body2))
      graft.sources.Warc.parseRecords(
          graft.sources.Warc.splitRecordsGz(
            u.select(col("doc_id"), blob.as("archive")), col("archive")),
          col("record"))
        .select(col("doc_id"), col("member_idx"), col("rec_idx"),
          col("warc_valid"), col("warc_type"), col("target_uri"),
          col("content_length"), col("body"), col("length_ok"))
        .orderBy(col("doc_id"), col("member_idx"), col("rec_idx"))
    }),
    // HTTP response parse over WARC record bodies — the link between
    // archive ingest and html extraction: status line, case-insensitive
    // Content-Type/charset, payload split past the header block; the
    // whole chain (Content-Length record walk → http parse) recomputed
    // closed-form by the oracle
    "warc_http_meta" -> ((s, dir) => {
      val u = graft.ops.Curation.synthUrls(t(s, dir, "documents"))
      val d = col("doc_id")
      val status = when(d % 4 === 0, "200 OK")
        .when(d % 4 === 1, "404 Not Found")
        .when(d % 4 === 2, "301 Moved Permanently")
        .otherwise("503 Service Unavailable")
      val ctHeader = when(d % 3 === 0, "Content-Type: text/html; charset=UTF-8")
        .when(d % 3 === 1, "content-type: text/plain")
        .otherwise("CONTENT-TYPE: application/json;charset=iso-8859-1")
      val payload = substring(col("text"), 1, 100)
      val httpMsg = concat(lit("HTTP/1.1 "), status,
        lit("\r\nServer: synth/1.0\r\n"), ctHeader, lit("\r\n\r\n"), payload)
      val body = when(d % 10 === 0, substring(col("text"), 1, 60))
        .otherwise(httpMsg)
      val blob = graft.sources.Warc.record(lit("response"), col("url"), body)
      graft.sources.Warc.parseHttp(
          graft.sources.Warc.parseRecords(
            graft.sources.Warc.splitRecords(
              u.select(d, blob.as("archive")), col("archive")),
            col("record")),
          col("body"))
        .select(d, col("http_valid"), col("http_status"), col("http_reason"),
          col("content_type"), col("charset"), col("http_body"))
        .orderBy(d)
    }),
    // WebDataset tar-shard ingest: the ustar member walk (checksum-
    // verified), same-stem sample regroup, and a REAL JPEG decode of
    // each sample's image member — the full multimodal-loader chain,
    // every field recomputed closed-form by the oracle
    "wds_samples" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      def stemOf(i: Int) = concat(lit("s"), (d * 2 + i).cast("string"))
      def tilesOf(i: Int) = transform(sequence(lit(0), lit(1)),
        tt => pmod(d * 7 + (tt.cast("long") + lit(2L * i)) * 13,
          lit(256L)).cast("int"))
      def jpgOf(i: Int) = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.JpegSynthEncode(
          org.apache.spark.sql.GraftColumnBridge.expression(tilesOf(i)),
          org.apache.spark.sql.GraftColumnBridge.expression(
            array(lit(2), lit(1), lit(0), lit(0)))))
      def sample(i: Int) = concat(
        graft.sources.Wds.tarMember(concat(stemOf(i), lit(".jpg")), jpgOf(i)),
        graft.sources.Wds.tarMember(concat(stemOf(i), lit(".txt")),
          substring(col("text"), 1 + 40 * i, 40)),
        graft.sources.Wds.tarMember(concat(stemOf(i), lit(".cls")),
          pmod(d + i, lit(10L)).cast("string")))
      val shard = concat(sample(0), sample(1),
        graft.sources.Wds.tarTerminator)
      val samp = graft.sources.Wds.samples(
        docs.select(d, shard.as("shard")), col("shard"))
      val st = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.JpegPixelStats(
          org.apache.spark.sql.GraftColumnBridge.expression(
            element_at(col("parts"), "jpg"))))
      samp
        .withColumn("__st", st)
        .select(d, col("stem"), col("n_members"),
          element_at(col("parts"), "cls").cast("string").as("cls"),
          GraftFunctions.hex64(element_at(col("parts"), "txt").cast("string"))
            .as("txt_hash"),
          element_at(col("__st"), 1).as("pixels_decoded"),
          (element_at(col("__st"), 2).cast("double") /
            element_at(col("__st"), 1)).as("mean_gray"))
        .orderBy(d, col("stem"))
    }),
    // .tgz WebDataset ingest — the gzip∘tar COMPOSITION (shards ship
    // compressed at rest): the same tar stream gzip-compressed and
    // SPLIT mid-archive into two members at a doc-varying byte offset
    // (pigz/bgzf emit per-block members — reassembly across member
    // boundaries is the wire reality), inflated through the real
    // RFC 1952 member walk (CRC32+ISIZE verified), re-fed to the
    // ustar walk, then the identical sample chain — same oracle as
    // wds_samples: the compression layer must be lossless end-to-end
    "wds_tgz_samples" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      def stemOf(i: Int) = concat(lit("s"), (d * 2 + i).cast("string"))
      def tilesOf(i: Int) = transform(sequence(lit(0), lit(1)),
        tt => pmod(d * 7 + (tt.cast("long") + lit(2L * i)) * 13,
          lit(256L)).cast("int"))
      def jpgOf(i: Int) = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.JpegSynthEncode(
          org.apache.spark.sql.GraftColumnBridge.expression(tilesOf(i)),
          org.apache.spark.sql.GraftColumnBridge.expression(
            array(lit(2), lit(1), lit(0), lit(0)))))
      def sample(i: Int) = concat(
        graft.sources.Wds.tarMember(concat(stemOf(i), lit(".jpg")), jpgOf(i)),
        graft.sources.Wds.tarMember(concat(stemOf(i), lit(".txt")),
          substring(col("text"), 1 + 40 * i, 40)),
        graft.sources.Wds.tarMember(concat(stemOf(i), lit(".cls")),
          pmod(d + i, lit(10L)).cast("string")))
      val shard = concat(sample(0), sample(1),
        graft.sources.Wds.tarTerminator)
      def gz(c: org.apache.spark.sql.Column) = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.GzipCompress(
          org.apache.spark.sql.GraftColumnBridge.expression(c)))
      val cut = (lit(512L) + d % 1024).cast("int")
      val tgz = concat(gz(shard.substr(lit(1), cut)),
        gz(shard.substr(cut + lit(1), lit(1 << 24))))
      val unshard = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.GzipConcat(
          org.apache.spark.sql.GraftColumnBridge.expression(col("tgz")),
          1 << 24))
      val samp = graft.sources.Wds.samples(
        docs.select(d, tgz.as("tgz")).select(d, unshard.as("shard")),
        col("shard"))
      val st = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.JpegPixelStats(
          org.apache.spark.sql.GraftColumnBridge.expression(
            element_at(col("parts"), "jpg"))))
      samp
        .withColumn("__st", st)
        .select(d, col("stem"), col("n_members"),
          element_at(col("parts"), "cls").cast("string").as("cls"),
          GraftFunctions.hex64(element_at(col("parts"), "txt").cast("string"))
            .as("txt_hash"),
          element_at(col("__st"), 1).as("pixels_decoded"),
          (element_at(col("__st"), 2).cast("double") /
            element_at(col("__st"), 1)).as("mean_gray"))
        .orderBy(d, col("stem"))
    }),
    // .tar.zst WebDataset ingest — the zstd∘tar COMPOSITION next to
    // the gzip one: modern shard tooling ships zstd at rest, and
    // RFC 8878 makes a stream a SEQUENCE of frames whose contents
    // concatenate (chunked writers emit per-block frames) — so the
    // same tar stream is split mid-archive at a doc-varying offset
    // into two REAL zstd frames, decoded back through zstd-jni,
    // re-fed to the ustar walk and the identical sample chain; same
    // oracle as wds_samples: the compression layer must be lossless
    "wds_tzst_samples" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      def stemOf(i: Int) = concat(lit("s"), (d * 2 + i).cast("string"))
      def tilesOf(i: Int) = transform(sequence(lit(0), lit(1)),
        tt => pmod(d * 7 + (tt.cast("long") + lit(2L * i)) * 13,
          lit(256L)).cast("int"))
      def jpgOf(i: Int) = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.JpegSynthEncode(
          org.apache.spark.sql.GraftColumnBridge.expression(tilesOf(i)),
          org.apache.spark.sql.GraftColumnBridge.expression(
            array(lit(2), lit(1), lit(0), lit(0)))))
      def sample(i: Int) = concat(
        graft.sources.Wds.tarMember(concat(stemOf(i), lit(".jpg")), jpgOf(i)),
        graft.sources.Wds.tarMember(concat(stemOf(i), lit(".txt")),
          substring(col("text"), 1 + 40 * i, 40)),
        graft.sources.Wds.tarMember(concat(stemOf(i), lit(".cls")),
          pmod(d + i, lit(10L)).cast("string")))
      val shard = concat(sample(0), sample(1),
        graft.sources.Wds.tarTerminator)
      def zst(c: org.apache.spark.sql.Column) =
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.ZstdCompress(
            org.apache.spark.sql.GraftColumnBridge.expression(c)))
      val cut = (lit(512L) + d % 1024).cast("int")
      val tzst = concat(zst(shard.substr(lit(1), cut)),
        zst(shard.substr(cut + lit(1), lit(1 << 24))))
      val unshard = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.ZstdConcat(
          org.apache.spark.sql.GraftColumnBridge.expression(col("tzst")),
          1 << 24))
      val samp = graft.sources.Wds.samples(
        docs.select(d, tzst.as("tzst")).select(d, unshard.as("shard")),
        col("shard"))
      val st = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.JpegPixelStats(
          org.apache.spark.sql.GraftColumnBridge.expression(
            element_at(col("parts"), "jpg"))))
      samp
        .withColumn("__st", st)
        .select(d, col("stem"), col("n_members"),
          element_at(col("parts"), "cls").cast("string").as("cls"),
          GraftFunctions.hex64(element_at(col("parts"), "txt").cast("string"))
            .as("txt_hash"),
          element_at(col("__st"), 1).as("pixels_decoded"),
          (element_at(col("__st"), 2).cast("double") /
            element_at(col("__st"), 1)).as("mean_gray"))
        .orderBy(d, col("stem"))
    }),
    // AVIF/HEIC triage (r15): the modern web image pair — HEIF
    // images in ISO BMFF, where `meta` is a FULLBOX whose children
    // start past version/flags (the detail that breaks naive MP4
    // walkers); brand, ispe dimensions, iinf item types (av01/hvc1/
    // Exif), the auxC alpha flag, mdat size, and a 64-bit-largesize
    // lane; locate-only (codec decode out of scope, documented)
    "mm_avif_meta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val payload = when(d % 10 === 0, col("text").cast("binary"))
        .otherwise(org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.AvifSynth(
            org.apache.spark.sql.GraftColumnBridge.expression(d))))
      val m = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.AvifMeta(
          org.apache.spark.sql.GraftColumnBridge.expression(col("payload"))))
      docs.select(d, payload.as("payload"))
        .withColumn("__m", m)
        .select(d, col("__m").isNotNull.as("heif_valid"),
          col("__m.brand").as("brand"),
          col("__m.width").as("width"), col("__m.height").as("height"),
          col("__m.n_items").as("n_items"),
          col("__m.primary_type").as("primary_type"),
          col("__m.has_alpha").as("has_alpha"),
          col("__m.has_exif").as("has_exif"),
          col("__m.mdat_bytes").as("mdat_bytes"))
        .orderBy(d)
    }),
    // SVG metadata triage (r15): the TEXT image format — root-tag
    // attribute parse (width/height with unit suffixes, the viewBox
    // quad), boundary-checked element counts (a <pathological-elem>
    // decoy must not count as <path>), the embedded-<script> XSS
    // flag, and the entity-decoded <title> carrying each doc's real
    // text; the sitemap posture: one linear scan, no XML library
    "mm_svg_meta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val svg = when(d % 10 === 0, col("text"))
        .otherwise(org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.SvgSynth(
            org.apache.spark.sql.GraftColumnBridge.expression(d),
            org.apache.spark.sql.GraftColumnBridge.expression(col("text")))))
      val m = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.SvgMeta(
          org.apache.spark.sql.GraftColumnBridge.expression(col("svg"))))
      docs.select(d, svg.as("svg"))
        .withColumn("__m", m)
        .select(d, col("__m").isNotNull.as("svg_valid"),
          col("__m.width").as("width"), col("__m.height").as("height"),
          col("__m.vb_width").as("vb_width"),
          col("__m.vb_height").as("vb_height"),
          col("__m.n_shapes").as("n_shapes"),
          col("__m.n_groups").as("n_groups"),
          col("__m.n_text").as("n_text"),
          col("__m.has_script").as("has_script"),
          col("__m.title").as("title"))
        .orderBy(d)
    }),
    // mojibake repair (r15): ftfy's core heuristic — invert the
    // UTF-8-decoded-as-cp1252 damage (strict cp1252 encode → strict
    // UTF-8 decode, accept only a valid CHANGED result), iterated
    // for double mojibake; the clean-accented lane pins the
    // no-false-positive property and the oracle holds REPAIRED
    // closed forms spliced onto each doc's real text
    "text_mojibake" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val planted = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.MojibakeSynth(
          org.apache.spark.sql.GraftColumnBridge.expression(d),
          org.apache.spark.sql.GraftColumnBridge.expression(col("text"))))
      val r = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.MojibakeRepair(
          org.apache.spark.sql.GraftColumnBridge.expression(col("planted"))))
      docs.select(d, planted.as("planted"))
        .withColumn("__r", r)
        .select(d, col("__r.had_mojibake").as("had_mojibake"),
          col("__r.depth").as("depth"),
          col("__r.fixed_text").as("fixed_text"))
        .orderBy(d)
    }),
    // MIME message decode — the step AFTER the mbox envelope split:
    // multipart tree walk (nested multipart/alternative lane), folded
    // case-insensitive headers, quoted/bare boundary params, and REAL
    // content-transfer decodes (quoted-printable soft breaks + =XX
    // multibyte escapes; base64 text AND binary) — the oracle holds
    // only DECODED closed forms, so a hash match proves the decodes
    "mail_mime_parts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val raw = when(d % 10 === 0, col("text").cast("binary"))
        .otherwise(org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.MimeSynth(
            org.apache.spark.sql.GraftColumnBridge.expression(d),
            org.apache.spark.sql.GraftColumnBridge.expression(col("text")))))
      graft.sources.Mime.parts(docs.select(d, raw.as("raw")), col("raw"))
        .select(d, col("mime_valid"), col("part_idx"), col("content_type"),
          col("charset"), col("encoding"), col("is_attachment"),
          col("filename"), col("decoded_bytes"), col("byte_sum"),
          col("decoded_text"))
        .orderBy(d, col("part_idx"))
    }),
    // mail HEADER decode (r15): RFC 2047 encoded-words — the way
    // header values carry non-ASCII — B and Q forms, the §6.2
    // adjacent-word whitespace-drop rule, display-name vs angle-addr
    // mailbox split; the oracle holds only DECODED strings
    "mail_headers" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val raw = when(d % 10 === 0, col("text").cast("binary"))
        .otherwise(org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.MimeSynth(
            org.apache.spark.sql.GraftColumnBridge.expression(d),
            org.apache.spark.sql.GraftColumnBridge.expression(col("text")))))
      graft.sources.Mime.headers(docs.select(d, raw.as("raw")), col("raw"))
        .select(d, col("mail_valid"), col("from_addr"), col("from_name"),
          col("to_addr"), col("subject"), col("date_raw"),
          col("message_id"))
        .orderBy(d)
    }),
    // mbox mailbox ingest (the classic email-corpus framing): the
    // line-anchored envelope split (safe because mboxrd escapes
    // in-body `From ` as `>From ` — and the synth PLANTS that escape
    // so the unescape provably fires), case-insensitive header parse;
    // oracle recomputes every field closed-form
    "mbox_messages" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      def msg(i: Int) = concat(
        lit("From sender"), (d + i).cast("string"),
        lit("@ex.com Thu Jan  1 00:00:00 2026\n"),
        lit(if (i == 0) "From" else "FROM"), lit(": user"),
        (d + i).cast("string"), lit("@example.com\nSubject: doc "),
        d.cast("string"), lit(s" msg $i\nDate: 2026-01-0"),
        (lit(1L) + d % 9).cast("string"), lit("\n\n"),
        if (i == 0) substring(col("text"), 1, 60)
        else concat(lit("line one\n>From the start\nend "), d.cast("string")))
      val blob = when(d % 10 === 0, col("text"))
        .otherwise(concat(msg(0), lit("\n"), msg(1)))
      graft.sources.Mbox.parseMessages(
          graft.sources.Mbox.messages(
            docs.select(d, blob.as("mbox")), col("mbox")),
          col("message"))
        .select(d, col("msg_idx"), col("envelope_from"), col("from_addr"),
          col("subject"), col("date_hdr"),
          length(col("body")).cast("long").as("n_body_chars"),
          GraftFunctions.hex64(col("body")).as("body_hash"))
        .orderBy(d, col("msg_idx"))
    }),
    // ZIP archive ingest (the office/epub/jar container): EOCD →
    // central directory → per-entry local offset, CRC-verified
    // stored + deflate decompression inline; the oracle recomputes
    // names, sizes and content hashes from the text closed-form
    "zip_entries" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val names = array(lit("doc.txt"), lit("data.bin"), lit("meta/info.json"))
      val binSlice = unhex(hex(col("text").cast("binary"))
        .substr(lit(1), ((lit(20L) + d % 40) * 2).cast("int")))
      val datas = array(
        substring(col("text"), 1, 80).cast("binary"),
        binSlice,
        concat(lit("{\"doc\":"), d.cast("string"), lit("}")).cast("binary"))
      val methods = array(lit(0), lit(8), lit(8))
      val blob = when(d % 10 === 0, col("text").cast("binary"))
        .otherwise(graft.sources.Zip.build(names, datas, methods))
      graft.sources.Zip.entries(docs.select(d, blob.as("archive")), col("archive"))
        .select(d, col("entry_idx"), col("entry_name"),
          length(col("entry_data")).cast("long").as("n_bytes"),
          GraftFunctions.hex64(hex(col("entry_data"))).as("content_hash"))
        .orderBy(d, col("entry_idx"))
    }),
    // the multimodal curation capstone: WebDataset shards in,
    // per-sample keep decisions out — tar walk + regroup + REAL JPEG
    // decode + perceptual-dedup ledger + caption token battery, all
    // composed from the engine's own operators; each doc's two
    // samples share a planted image (a within-doc duplicate pair), so
    // dedup genuinely fires and the whole flag row is closed-form.
    // r13: the pair's SECOND sample re-encodes the same tiles as a
    // PROGRESSIVE (SOF2) stream — the capstone's dedup collision now
    // crosses the baseline/progressive layout divide, oracle unchanged
    "pipeline_multimodal" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val tiles = transform(sequence(lit(0), lit(71)),
        tt => conv(substring(md5(concat(lit("img|"), d.cast("string"),
          lit("|"), tt.cast("string"))), 1, 2), 16, 10).cast("int"))
      def jpgOf(progressive: Int) = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.JpegSynthEncode(
          org.apache.spark.sql.GraftColumnBridge.expression(tiles),
          org.apache.spark.sql.GraftColumnBridge.expression(
            array(lit(9), lit(8), lit(0), lit(0), lit(progressive)))))
      def stemOf(i: Int) = concat(lit("s"), (d * 2 + i).cast("string"))
      def sample(i: Int) = concat(
        graft.sources.Wds.tarMember(concat(stemOf(i), lit(".jpg")), jpgOf(i)),
        graft.sources.Wds.tarMember(concat(stemOf(i), lit(".txt")),
          col("text").substr(lit(1 + 10 * i), (lit(5L) + d % 9).cast("int"))))
      val shard = when(d % 10 === 0, col("text").cast("binary"))
        .otherwise(concat(sample(0), sample(1),
          graft.sources.Wds.tarTerminator))
      graft.ops.Pipeline.wdsCurate(
          docs.select(d, shard.as("shard")), col("shard"))
        .orderBy(d, col("stem"))
    }),
    // frontier seen-filter: bloom-pruned, exact-verified "already
    // crawled?" against the landed canonical-URL set; the messy
    // re-crawl variants canonicalize back onto landed URLs, so the
    // canonicalize-before-probe ordering binds
    "frontier_seen" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val landed = graft.ops.Curation.synthUrls(docs)
        .where(col("doc_id") % 2 === 0)
        .select(graft.ops.Curation.canonicalizeUrl(col("url"))
          .as("canonical_url"))
      val d = col("doc_id")
      val withUrl = graft.ops.Curation.synthUrls(docs)
      val messy = when(d % 5 === 1, concat(col("url"), lit("#section2")))
        .when(d % 5 === 2, concat(col("url"), lit("?utm_source=feed&b=2&a=1")))
        .when(d % 5 === 3, concat(col("url"), lit("?z=9&utm_campaign=x&a=1#frag")))
        .when(d % 5 === 4,
          concat(regexp_replace(col("url"), "^https://", "HTTPS://"), lit("/")))
        .otherwise(col("url"))
      graft.ops.Curation.filterSeen(
          withUrl.withColumn("url", messy), col("url"), landed)
        .select(col("doc_id"), col("canonical_url"), col("seen"), col("keep"))
        .orderBy(col("doc_id"))
    }),
    // the COMPLETE crawl decision: robots + blocklist + quota +
    // canonical-URL dedup + the extracted-content battery, one
    // auditable flag row per page (pipeline_curate's URL planting ×
    // pipeline_web's scaffold × synthRobots)
    "pipeline_crawl" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val k = expr("(doc_id div 2) * 2")
      val withUrl = graft.ops.Curation.synthUrls(docs, key = k,
        sourceOf = Some(concat(lit("src"), pmod(k, lit(20L)).cast("string"))))
      val d = col("doc_id")
      val messy = when(d % 5 === 1, concat(col("url"), lit("#section2")))
        .when(d % 5 === 2, concat(col("url"), lit("?utm_source=feed&b=2&a=1")))
        .when(d % 5 === 3, concat(col("url"), lit("?z=9&utm_campaign=x&a=1#frag")))
        .when(d % 5 === 4,
          concat(regexp_replace(col("url"), "^https://", "HTTPS://"), lit("/")))
        .otherwise(col("url"))
      val pages = withUrl.withColumn("url", messy)
        .withColumn("html", concat(lit(graft.text.Html.ScaffoldPrefix),
          col("text"), lit(graft.text.Html.ScaffoldSuffix)))
      val rules = graft.ops.Curation.synthRobots(
        graft.ops.Curation.withUrlParts(pages, col("url")))
      graft.ops.Pipeline.crawlPipeline(pages, col("url"), col("html"),
          rules, Seq("src0.com", "src1.org", "src2.net"), quota = 5)
        .orderBy(col("doc_id"))
    }),
    // content blocklist: token-level wordlist filter as a pure
    // map-side projection — the blocklist rides the plan as an array
    // literal, no join, no shuffle (the content twin of the domain
    // blocklist); maxHits=2 tolerates incidental mentions
    "text_word_blocklist" -> ((s, dir) =>
      graft.ops.Curation.blocklistTerms(t(s, dir, "documents"),
          Seq("slow", "merge", "window"), maxHits = 2)
        .orderBy(col("doc_id"))),
    // line-level boilerplate strip (CCNet/RefinedWeb cleaning stage):
    // nav/footer lines repeat verbatim across a site's pages — strip
    // lines with doc-frequency ≥ 5 WITHIN the source group, reassemble
    // survivors positionally; header/footer/promo structure is
    // synthesized (testdata pages are single-line), the operator is real
    "text_strip_boilerplate" -> ((s, dir) =>
      graft.text.Boilerplate.stripBoilerplate(
          graft.text.Boilerplate.synthBoilerplate(t(s, dir, "documents")),
          col("source"))
        .orderBy(col("doc_id"))),
    "domain_stats" -> ((s, dir) =>
      graft.ops.Curation.domainStats(
          graft.ops.Curation.withUrlParts(
            graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url")),
          quota = 2)
        .orderBy(col("domain"))),
    // per-domain CONTENT quality rollup — ranks the domains themselves
    // (token volume, mean doc length, punct ratio, within-domain dup
    // rate); every doc_id % 5 == 0 page is rewritten to a per-source
    // mirror template so the duplicate-rate signal actually binds
    "domain_quality" -> ((s, dir) =>
      graft.ops.Curation.domainQuality(
          graft.ops.Curation.synthUrls(t(s, dir, "documents")
            .withColumn("text",
              when(col("doc_id") % 5 === 0,
                concat(lit("mirror landing page "), col("source")))
                .otherwise(col("text")))),
          col("url"))
        .orderBy(col("domain"))),
    // RFC 9309 robots gate: per-host Disallow/Allow prefix rules,
    // longest match wins, Allow wins ties; synth rules make every
    // precedence branch bind (depth-2 blocked, depth-3 re-allowed,
    // root docs blocked on .com only)
    "robots_gate" -> ((s, dir) => {
      val parsed = graft.ops.Curation.withUrlParts(
        graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url"))
      graft.ops.Curation.applyRobots(parsed,
          graft.ops.Curation.synthRobots(parsed))
        .select(col("doc_id"), col("host"), col("path"),
          col("robots_allowed"), col("robots_rule_len"))
        .orderBy(col("doc_id"))
    }),
    // host-level web link graph: href extraction (both quote styles,
    // entity-decoded), scheme-aware resolution (absolute/protocol-
    // relative/relative/non-navigation), aggregated to weighted
    // (src_host, dst_host) edges — the PageRank feeder
    "web_link_graph" -> ((s, dir) => {
      val parsed = graft.ops.Curation.withUrlParts(
        graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url"))
      val planted = graft.text.Html.linkPlanted(parsed)
      graft.text.Html.hostEdges(
          graft.text.Html.extractLinks(planted, col("__html"), col("host")))
        .orderBy(col("src_host"), col("dst_host"))
    }),
    // politeness-scheduled fetch waves: ≤3 URLs per registered domain
    // per wave, rank in deterministic (hash-priority, url) order —
    // the schedule a polite crawler replays wave by wave
    "crawl_frontier" -> ((s, dir) => {
      val parsed = graft.ops.Curation.withUrlParts(
        graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url"))
      graft.ops.Curation.crawlWaves(parsed, col("domain"), col("url"),
          graft.GraftFunctions.hex64(
            concat(lit("frontier|"), col("doc_id").cast("string"))),
          perWave = 3)
        .orderBy(col("url"))
    }),
    // anchor-term index: what OTHER pages' link text says a host is
    // about — per (dst_host, token) occurrences + distinct linking
    // hosts (one host repeating a term ≠ many hosts agreeing)
    "web_anchor_terms" -> ((s, dir) => {
      val parsed = graft.ops.Curation.withUrlParts(
        graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url"))
      graft.text.Html.anchorTerms(
          graft.text.Html.linkPlanted(parsed), col("__html"), col("host"))
        .orderBy(col("dst_host"), col("token"))
    }),
    // site families / mirror networks: connected components over the
    // extracted host graph (the dedup contraction, host labels)
    "web_host_clusters" -> ((s, dir) => {
      val parsed = graft.ops.Curation.withUrlParts(
        graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url"))
      val edges = graft.text.Html.hostEdges(
          graft.text.Html.extractLinks(
            graft.text.Html.linkPlanted(parsed), col("__html"), col("host")))
        .where(!col("is_internal"))
      graft.ops.Graph.hostClusters(edges).orderBy(col("host"))
    }),
    // host PageRank over the EXTRACTED link graph — raw HTML to
    // authority ranks end-to-end (internal links dropped, the web
    // convention; top 50 hosts by int64 fixed-point rank)
    "web_pagerank" -> ((s, dir) => {
      val parsed = graft.ops.Curation.withUrlParts(
        graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url"))
      val edges = graft.text.Html.hostEdges(
          graft.text.Html.extractLinks(
            graft.text.Html.linkPlanted(parsed), col("__html"), col("host")))
        .where(!col("is_internal"))
        .select(col("src_host").as("src"), col("dst_host").as("dst"))
      graft.ops.Graph.pageRank(edges, iterations = 10)
        .orderBy(col("rank_fp").desc, col("node")).limit(50)
    }),
    // token-budget fill per source: longest prefix of the hash-ordered
    // stream that fits 600 tokens — the "N tokens of web" sampling
    // primitive; budget is a hard cap, decision table is auditable
    "sample_token_budget" -> ((s, dir) =>
      graft.ops.Sampling.tokenBudget(t(s, dir, "documents"), col("source"),
          size(graft.GraftFunctions.tokens(col("text"))).cast("long"),
          graft.GraftFunctions.hex64(
            concat(lit("budget|"), col("doc_id").cast("string"))),
          budget = 600L)
        .orderBy(col("doc_id"))),
    // language-balanced sampling: √n temperature over the PREDICTED
    // language (XLM-R-style low-resource upweighting); 3 residue
    // classes get 60-token marker tails so the language axis binds
    "sample_language_balance" -> ((s, dir) => {
      val tails = graft.text.TextAnalysis.langMarkers.take(3)
        .map { case (_, ws) => Seq.fill(12)(ws.take(5)).flatten.mkString(" ") }
      val tailArr = array(tails.map(lit(_)): _*)
      val planted = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 4 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" "),
            element_at(tailArr, (col("doc_id") % 4).cast("int")))))
      graft.ops.Sampling.languageBalance(planted)
        .orderBy(col("pred_lang"))
    }),
    "sample_epoch_mix" -> ((s, dir) =>
      graft.ops.Sampling.epochMix(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),
    // DSIR importance resampling: target = the English slice; k=100
    // winners by Gumbel-top-k over the hashed-ngram log-importance
    "sample_dsir" -> ((s, dir) =>
      graft.text.Dsir.importanceResample(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // llr model at rest: fit → saveLlr (params in TBLPROPERTIES) →
    // loadLlr → resample from the LOADED table; ≡ sample_dsir, so it
    // shares the oracle
    "sample_dsir_persisted" -> ((s, dir) =>
      graft.text.Dsir.fitSaveResampleQuery(t(s, dir, "documents"),
          "graft_dsir_llr_rt", path = Some(s"${tempDir("dsir_llr")}/tbl"))
        .orderBy(col("doc_id"))),
    "seq_pack" -> ((s, dir) =>
      graft.ops.Packing.packSequences(t(s, dir, "documents"))
        .orderBy(col("source"), col("doc_id"))),
    "corpus_shuffle" -> ((s, dir) =>
      graft.ops.Sampling.shuffleShards(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("shuffle_key"), col("shard"))),
    "text_top_ngrams" -> ((s, dir) => TextAnalysis.topNgrams(t(s, dir, "documents"))),
    // corpus cartography: hash-embed clusters labeled by c-TF-IDF terms
    "corpus_topics" -> ((s, dir) =>
      graft.text.Topics.topics(t(s, dir, "documents"))),
    // topic model at rest: centroids + labels persisted, a corpus
    // tagged against the LOADED cluster space — topic ids comparable
    // across ingests; the winning sim is hash-exact (integer
    // numerators, one IEEE division)
    "corpus_topics_persisted" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tmp = tempDir("topics_rt")
      graft.text.Topics.saveTopics(d, "graft_topics_rt", path = Some(s"$tmp/tbl"))
      graft.text.Topics.assignOnTopics(d, "graft_topics_rt").orderBy(col("doc_id"))
    }),
    // rows-only: iterative BPE merge training has no SQL oracle
    // (declared); encode ≡ training-fold, reference-reimplementation
    // parity, and save/load round trip are spec'd in BpeSpec
    "text_bpe" -> ((s, dir) =>
      graft.text.Bpe.trainSaveCountQuery(t(s, dir, "documents"),
          "graft_bpe_model_rt", path = Some(s"${tempDir("bpe_model")}/tbl"))
        .orderBy(col("doc_id"))),
    // rows-only: packing under the learned BPE counts (the packing
    // arithmetic itself is the oracle-checked seq_pack prefix sum);
    // 32 merges — the training cost already has its own row (text_bpe)
    "seq_pack_bpe" -> ((s, dir) =>
      graft.text.Bpe.packBpeQuery(t(s, dir, "documents"), numMerges = 32)),
    // scalar-digest projection: the raw array-typed posting columns are
    // the API surface, but the driver gate canonicalizes rows in pandas,
    // which cannot sort array cells (round-3 red row) — hex64 digests
    // carry the same information hash-exactly
    "text_inverted_index" -> ((s, dir) => TextAnalysis.invertedIndexDigest(t(s, dir, "documents"))),
    "corpus_heavy_hitters" -> ((s, dir) => TextAnalysis.heavyHitters(t(s, dir, "documents"))),
    "corpus_cms_counts" -> ((s, dir) =>
      graft.text.CountMin.sketchTopTokensQuery(t(s, dir, "documents"))),
    "text_search_topk" -> ((s, dir) => TextAnalysis.searchTopK(t(s, dir, "documents"))),
    // hybrid lexical+semantic retrieval: BM25 top-20 and hash-embed
    // cosine top-20 (query terms as a pseudo-doc) fused by Reciprocal
    // Rank Fusion — integer ranks + two IEEE divisions per doc, so the
    // whole hybrid ranker is hash-exact against the composed oracle
    "text_search_hybrid" -> ((s, dir) =>
      TextAnalysis.hybridSearchTopK(t(s, dir, "documents"))),
    // the 100 TB hybrid shape: BOTH retriever sides served from
    // indexes at rest — postings from the persisted SearchIndex,
    // semantic candidates from a persisted IVF over the hash-embed
    // vectors (cell-confined serve; probing every cell here makes the
    // semantic side ≡ the exact dense-cosine ranking, which is what
    // the composed oracle mirrors); shared RRF fusion core
    "text_search_hybrid_indexed" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tmpL = tempDir("hyb_lex")
      val tmpA = tempDir("hyb_ann")
      graft.text.SearchIndex.save(d, "graft_hyb_lex_rt", path = Some(s"$tmpL/tbl"))
      val vecs = TextAnalysis.hashEmbedVectors(d)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      graft.ann.Ivf.saveIndex(vecs, vecs.filter(col("vec_id") < 8),
        "graft_hyb_ann_rt", path = Some(s"$tmpA/tbl"))
      val lexIdx = graft.text.SearchIndex.load(s, "graft_hyb_lex_rt")
      val (cells, cents) = graft.ann.Ivf.loadIndex(s, "graft_hyb_ann_rt")
      TextAnalysis.hybridSearchTopKOnIndexes(lexIdx, cells, cents, nProbe = 8)
    }),
    // index-at-rest round trip: save → load → serve with the corpus
    // untouched at serving time (stats from TBLPROPERTIES, doc lengths
    // from the bucketed doclen table); same oracle as text_search_topk
    // BATCH query serving: a (query_id, token) frame served in ONE
    // pass over the postings — distinct query tokens broadcast-prune
    // the index, per-(query, doc) BM25 folds term scores in token
    // order (partition-order-free), bounded top-k per query
    "text_search_batch" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val docLens = d.select(col("doc_id"),
        size(graft.GraftFunctions.tokens(col("text"))).cast("long").as("dl"))
      val idx = graft.text.SearchIndex.TextIndex(
        TextAnalysis.invertedIndex(d), docLens,
        docLens.count(), docLens.agg(sum("dl")).head().getLong(0),
        TextAnalysis.DefaultMaxTokenDf)
      graft.text.SearchIndex.searchTopKBatch(idx,
        TextAnalysis.BatchQueries.toDF("query_id", "token"), k = 10)
    }),
    // BATCH hybrid serving from indexes at rest: lexical sides in one
    // postings pass, semantic sides in one cell-confined IVF pass
    // (probeTopKOnIndex is natively batch), shared per-query RRF tail;
    // probing every cell makes each semantic side exact → composed
    // per-query oracle, hash-exact
    "text_search_hybrid_batch" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val tmpL = tempDir("hybb_lex")
      val tmpA = tempDir("hybb_ann")
      graft.text.SearchIndex.save(d, "graft_hybb_lex_rt", path = Some(s"$tmpL/tbl"))
      val vecs = TextAnalysis.hashEmbedVectors(d)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      graft.ann.Ivf.saveIndex(vecs, vecs.filter(col("vec_id") < 8),
        "graft_hybb_ann_rt", path = Some(s"$tmpA/tbl"))
      val lexIdx = graft.text.SearchIndex.load(s, "graft_hybb_lex_rt")
      val (cells, cents) = graft.ann.Ivf.loadIndex(s, "graft_hybb_ann_rt")
      TextAnalysis.hybridSearchBatchOnIndexes(lexIdx, cells, cents,
        TextAnalysis.BatchQueries.toDF("query_id", "token"), nProbe = 8)
    }),
    "text_search_topk_persisted" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tmp = tempDir("search_idx")
      graft.text.SearchIndex.save(d, "graft_search_idx_rt", path = Some(s"$tmp/tbl"))
      graft.text.SearchIndex.searchTopK(graft.text.SearchIndex.load(s, "graft_search_idx_rt"))
    }),
    "text_pmi" -> ((s, dir) =>
      TextAnalysis.tokenPmi(t(s, dir, "documents")).orderBy(col("a"), col("b"))),
    // exact-sequence queries over positional postings: offset voting,
    // one keyed shuffle, no per-document scan
    "text_phrase_search" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.phraseSearch(d, TextAnalysis.cannedPhrases(d))
    }),
    // positional index at rest: tokenize once, serve every phrase
    // query from the bucketed postings table — same oracle as the
    // self-contained row
    "text_phrase_search_persisted" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tmp = tempDir("phrase_idx")
      TextAnalysis.savePositionalIndex(d, "graft_phrase_idx_rt",
        path = Some(s"$tmp/tbl"))
      TextAnalysis.phraseSearchOnIndex(s, "graft_phrase_idx_rt",
        TextAnalysis.cannedPhrases(d))
    }),
    "text_ngram_lm" -> ((s, dir) =>
      TextAnalysis.ngramLmScore(t(s, dir, "documents")).orderBy(col("doc_id"))),
    // LM-at-rest round trip (the CCNet perplexity-filter deployment
    // shape): fit + persist the bigram/unigram tables bucketed on
    // their join keys, score the same corpus from the LOADED tables —
    // same oracle as text_ngram_lm, so a hash match proves the
    // persisted path is byte-identical to the in-query fit
    "text_ngram_lm_persisted" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tmp = tempDir("lm_rt")
      TextAnalysis.saveLm(d, "graft_lm_rt", path = Some(s"$tmp/tbl"))
      TextAnalysis.ngramLmScoreOnLm(d, "graft_lm_rt").orderBy(col("doc_id"))
    }),
    "text_hash_embed" -> ((s, dir) =>
      TextAnalysis.hashEmbed(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("dim"))),
    "text_knn_hash_embed" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.hashEmbedTopK(d, d.filter(col("doc_id") < 10).select(col("doc_id")))
    }),
    "events_sliding" -> ((s, dir) =>
      EventOps.slidingRollup(t(s, dir, "events"))
        .orderBy(col("window_start_us"), col("event_type"))),
    // --- B. dedup suite ---
    // per-doc dedup ledgers return UNORDERED from the API (r12: no
    // global sort in a 100 TB flag table); the gate rows sort here
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBest(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhash(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents")).orderBy(col("a"), col("b"))),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"),
          maxShingleDf = Some(Dedup.DefaultMaxShingleDf))
        .orderBy(col("a"), col("b"))),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents")).orderBy(col("a"), col("b"))),
    "dedup_embedding" -> ((s, dir) =>
      Knn.nearestNeighborDedup(t(s, dir, "embeddings")).orderBy(col("vec_id"))),
    "dedup_embedding_lsh" -> ((s, dir) =>
      Knn.lshNearDupPairs(t(s, dir, "embeddings"), lshP, threshold = 0.3)
        .orderBy(col("a"), col("b"))),
    "dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "dedup_clusters_keep_best" -> ((s, dir) =>
      Dedup.nearDupKeepBest(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "dedup_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.incrementalDedup(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
        .orderBy(col("doc_id"))
    }),
    // persisted-signature round trip: corpus fingerprints + minhash
    // bands saved bucketed, reloaded, and served against a batch with
    // no corpus-side signature recompute; same oracle as dedup_incremental
    "dedup_incremental_persisted" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 2 === 0)
      val tmp = tempDir("dedup_sig")
      Dedup.saveSignatures(corpus, "graft_dedup_sig_rt", path = Some(s"$tmp/tbl"))
      val (fp, bands) = Dedup.loadSignatures(s, "graft_dedup_sig_rt")
      Dedup.incrementalDedupOnSignatures(fp, bands, corpus,
          d.filter(col("doc_id") % 2 === 1))
        .orderBy(col("doc_id"))
    }),
    "dedup_bloom" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.bloomDedup(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
        .select(col("doc_id"), col("exact_dup"), col("keep"))
        .orderBy(col("doc_id"))
    }),
    "pipeline_clean" -> ((s, dir) =>
      graft.ops.Pipeline.cleanCorpus(t(s, dir, "documents")).orderBy(col("doc_id"))),
    // FineWeb-style filter stack: four content signals over one cached
    // tokenize pass, combined with per-signal failure reasons
    "pipeline_quality_ensemble" -> ((s, dir) =>
      graft.ops.Pipeline.qualityEnsemble(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // raw-crawl curation end to end: HTML extract -> script routing ->
    // quality -> exact dedup over the EXTRACTED text, one keep
    // decision with per-stage reasons; scaffold-planted pages
    "pipeline_web" -> ((s, dir) =>
      graft.ops.Pipeline.webCurate(
        t(s, dir, "documents").select(col("doc_id"),
          concat(lit(graft.text.Html.ScaffoldPrefix), col("text"),
            lit(graft.text.Html.ScaffoldSuffix)).as("html")))
        .orderBy(col("doc_id"))),
    "dedup_mllib_minhash" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.ann.MlLsh.minhashNearDupPairs(t(s, dir, "documents"), maxJaccardDistance = 0.5)
        .withColumn("jaccard_dist", round(col("jaccard_dist"), 6))
    }),
    "ann_mllib_brp" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.ann.MlLsh.brpNearNeighborPairs(t(s, dir, "embeddings"), maxL2Distance = 1.15)
        .withColumn("l2_dist", round(col("l2_dist"), 6))
    }),
    // --- A/C. exact similarity search ---
    "cosine_topk_exact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Knn.cosineTopK(e, e.filter(col("vec_id") < 10), 5)
    }),
    "knn_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Knn.cosineTopK(e, e, 3)
    }),
    // cell-pruned classification serving: the knn_classify vote over
    // probed-cell neighbors — per-query cost = probe selectivity,
    // not corpus size
    "knn_classify_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Knn.knnClassifyIvf(e, e.filter(col("vec_id") < 10),
        e.filter(col("vec_id") < 8), nProbe = 2, k = 5)
    }),
    "knn_classify" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Knn.knnClassify(e, e.filter(col("vec_id") < 100), 5)
    }),
    "emb_label_centroids" -> ((s, dir) =>
      graft.ann.Centroids.labelCentroids(t(s, dir, "embeddings"))),
    // per-label outlier triage: 5 farthest vectors from each label
    // centroid — mislabels/model failures surface here; bounded
    // top-k aggregate, never a rank window over the corpus
    "emb_outliers" -> ((s, dir) =>
      graft.ann.Centroids.labelOutliers(t(s, dir, "embeddings"), k = 5)
        .orderBy(col("label"), col("rn"))),
    // threshold 0.4 sits in the test corpus's random-vector similarity
    // range (max pair sim ≈ 0.5) so the dup flags are non-vacuous;
    // production SemDeDup on real embeddings uses ≥0.95
    "semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Knn.semanticDedup(e, e.filter(col("vec_id") < 8), threshold = 0.4)
        .orderBy(col("vec_id"))
    }),
    "ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ivf.probeTopK(e, e.filter(col("vec_id") < 10), e.filter(col("vec_id") < 8), 2, 5)
    }),
    // the recall-tracking surface: IVF probed top-5 vs the exact top-5
    // per query — both sides queries×k-bounded, so evaluation is free
    // at any corpus scale and the metric itself is hash-exact
    "ann_recall_eval" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Knn.recallEval(
        Ivf.probeTopK(e, q, e.filter(col("vec_id") < 8), 2, 5),
        Knn.cosineTopK(e, q, 5))
    }),
    // recall's ORDER-aware sibling: first true neighbor's rank + MRR
    // per query — a true hit at rank 1 vs rank k are different user
    // experiences at identical recall; no-hit queries carry nulls
    "ann_rank_eval" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Knn.rankEval(
        Ivf.probeTopK(e, q, e.filter(col("vec_id") < 8), 2, 5),
        Knn.cosineTopK(e, q, 5))
    }),
    // JL random projection: 64 -> 16 dims, seeded planes, zero state
    "vec_project" -> ((s, dir) =>
      graft.ann.Project.projectQuery(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"), col("dim_idx"))),
    // rows-only (float fit, the quality_classifier convention): the
    // data-derived compression lever — one GramMoments corpus pass,
    // driver-side Jacobi, components served as codegen plan literals;
    // orthonormality/eigen-order/variance/planted-axis/independent-
    // power-iteration parity all pinned in PcaSpec
    "vec_pca" -> ((s, dir) =>
      graft.ann.Pca.query(t(s, dir, "embeddings"), d = 64, k = 8)
        .orderBy(col("vec_id"), col("dim_idx"))),
    // compressed candidates, exact rerank: IVF probing in the 16-dim
    // projected space, full-precision cosine only on probed candidates
    "ann_ivf_projected" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ann.Project.probeTopKProjected(e,
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") < 8), 2, 5)
    }),
    // hard-negative mining for contrastive pairs: most-confusable
    // non-duplicates from the probed cells, thresholded BEFORE the
    // bounded top-k so near-dup floods can't crowd out the boundary
    "emb_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ivf.hardNegatives(e, e.filter(col("vec_id") < 10),
        e.filter(col("vec_id") < 8), nProbe = 2, k = 3)
    }),
    // rows-only (PCA axes are a float fit): the data-derived twin of
    // ann_ivf_projected — candidate generation in 16-dim PCA space,
    // exact rerank in the original space; probe-every-cell ≡ brute
    // force spec'd in PcaSpec
    "ann_ivf_pca" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.ann.Pca.fit(e, d = 64, k = 16)
      graft.ann.Pca.probeTopKPca(e,
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") < 8), 2, 5, m)
    }),
    // prototype pruning (SSL prototypes / D4 stage 2): per-cell
    // most-prototypical k flagged for removal; k=32 keeps the winner
    // set non-trivial at every test SF
    "emb_prototype_prune" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ann.Prune.prototypePrune(e, e.filter(col("vec_id") < 8), k = 32)
        .orderBy(col("vec_id"))
    }),
    // IVF index at rest: cells+embeddings bucketed by cell, reloaded and
    // served with no corpus fetch at serving time; same oracle as ann_ivf
    "ann_ivf_persisted" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tmp = tempDir("ivf_idx")
      Ivf.saveIndex(e, e.filter(col("vec_id") < 8), "graft_ivf_idx_rt",
        path = Some(s"$tmp/tbl"))
      val (cells, cents) = Ivf.loadIndex(s, "graft_ivf_idx_rt")
      Ivf.probeTopKOnIndex(cells, cents, e.filter(col("vec_id") < 10), 2, 5)
    }),
    // filtered ANN: "top-k among vectors WHERE label < 5", served
    // from an index at rest that carries the label as a meta column —
    // the serving-time filter reaches the index parquet scan as a
    // pushed filter (plan-asserted); assignment is per-vector so the
    // result ≡ indexing only the filtered corpus
    "ann_ivf_filtered" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tmp = tempDir("ivf_flt")
      Ivf.saveIndex(e, e.filter(col("vec_id") < 8), "graft_ivf_flt_rt",
        path = Some(s"$tmp/tbl"), metaCols = Seq("label"))
      val (cells, cents) = Ivf.loadIndex(s, "graft_ivf_flt_rt")
      Ivf.probeTopKOnIndex(cells.filter(col("label") < 5), cents,
        e.filter(col("vec_id") < 10), 2, 5)
    }),
    // --- A. LSH core (deterministic seeded projections; rows-only oracle,
    //        semantics verified against brute force in LshSpec) ---
    "lsh_signatures" -> ((s, dir) =>
      LshIndex.build(t(s, dir, "embeddings"), lshP).orderBy(col("vec_id"), col("band"))),
    // the r > 64 parameter domain the int64 band signature cannot hold:
    // wide configs pack little-endian BYTES per band (the reference's
    // arbitrary-width _project_and_pack layout), indexed as hex — the
    // oracle re-derives every bit from the same plane literals
    "lsh_wide_signatures" -> ((s, dir) =>
      LshIndex.build(t(s, dir, "embeddings"), lshWideP)
        .orderBy(col("vec_id"), col("band"))),
    "lsh_bucket_stats" -> ((s, dir) =>
      LshIndex.bucketStats(LshIndex.build(t(s, dir, "embeddings"), lshP))),
    "lsh_candidate_pairs" -> ((s, dir) =>
      LshIndex.candidatePairs(LshIndex.build(t(s, dir, "embeddings"), lshP))
        .orderBy(col("a"), col("b"))),
    "lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      LshIndex.topK(e, e.filter(col("vec_id") < 10), lshP, 10)
    }),
    "lsh_topp_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      LshIndex.topPRerank(e, e.filter(col("vec_id") < 10), lshP, topP = 0.2, topK = 50)
    }),
    "ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      LshIndex.topPRerank(e, e.filter(col("vec_id") < 10), lshRecallP, topP = 1.0, topK = 5)
    }),
    "vec_quantize" -> ((s, dir) =>
      graft.ann.Quantize.int8(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"), col("i"))),
    "ann_quantized" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ann.Quantize.quantizedTopK(e, e.filter(col("vec_id") < 10), k = 5, prefilterK = 20)
    }),
    // rows-only: MLlib KMeans codebooks are not SQL-reproducible
    // (declared); planted-copy + recall specs in TextKnnSpec
    "ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // codebooks train on train()'s default deterministic 10% sample —
      // the standard PQ practice (training cost is per-sample, serving
      // cost per-corpus); this row serves the declared EXHAUSTIVE ADC
      // baseline — the cell-pruned production path is ann_ivfpq
      val model = graft.ann.Pq.train(e, m = 8, k = 16)
      graft.ann.Pq.pqTopK(e, e.filter(col("vec_id") < 10), model, k = 5, prefilterK = 20)
    }),
    // rows-only like ann_pq (MLlib codebooks); IVFADC — the full
    // persisted round trip: codebook + (vec_id, cell, codes) bucketed
    // by cell + centroids saved, reloaded, and served with ADC scored
    // ONLY inside probed cells (equi-join on cell, never a codes ×
    // queries cross join — plan-asserted in PlanContractSpec);
    // planted-copy/recall/≡-exhaustive specs in TextKnnSpec
    "ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
      val model = graft.ann.Pq.train(e, m = 8, k = 16)
      val tmp = tempDir("ivfpq_idx")
      graft.ann.Pq.saveCellIndex(model, e, cents, "graft_ivfpq_rt",
        path = Some(s"$tmp/tbl"))
      val (m2, cells, c2) = graft.ann.Pq.loadCellIndex(s, "graft_ivfpq_rt")
      graft.ann.Pq.pqTopKOnCells(cells, e, c2, e.filter(col("vec_id") < 10), m2,
        nProbe = 2, k = 5, prefilterK = 20)
    }),
    // rows-only like ann_ivfpq; the residual encoding (Jégou §V
    // proper): codes quantize x̂ − ĉ inside each assigned cell, the
    // index is multi-assigned (nProbe=2 — the index-side recall
    // lever), and serving recovers the encoding flags from the table
    // properties instead of caller lore; recall-delta (residual ≥ raw
    // at equal probes) and ≡-fresh specs in TextKnnSpec
    "ann_ivfpq_residual" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
      val model = graft.ann.Pq.trainResidual(e, cents, m = 8, k = 16)
      val tmp = tempDir("ivfpq_res_idx")
      graft.ann.Pq.saveCellIndex(model, e, cents, "graft_ivfpq_res_rt",
        path = Some(s"$tmp/tbl"), residual = true, nProbe = 2)
      graft.ann.Pq.topKOnSavedCellIndex(s, "graft_ivfpq_res_rt", e,
        e.filter(col("vec_id") < 10), k = 5, prefilterK = 20)
    }),
    // rows-only like ann_pq (MLlib codebooks + float PCA rotation);
    // OPQ (Ge et al. 2013, parametric): an orthogonal eigen-allocation
    // rotation fitted in one GramMoments pass precedes codebook
    // training, rides at rest in <table>_rot, and queries rotate with
    // the PERSISTED matrix at serve — inner products are preserved
    // exactly, so the ADC/rerank machinery runs unchanged; rotation
    // orthonormality / allocation balance / recall ≥ raw PQ on
    // anisotropic data spec'd in OpqSpec
    "ann_opq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.ann.Opq.train(e, m = 8, k = 16)
      val tmp = tempDir("opq_idx")
      graft.ann.Opq.saveIndex(model, e, "graft_opq_rt", path = Some(s"$tmp/tbl"))
      graft.ann.Opq.topKOnSavedIndex(s, "graft_opq_rt", e,
        e.filter(col("vec_id") < 10), k = 5, prefilterK = 20)
    }),
    "ann_hamming" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ann.Quantize.binaryTopK(e, e.filter(col("vec_id") < 10), k = 5, prefilterK = 20)
    }),
    // embedding-corpus health: NaN/zero-dim counts + the L2 norm with
    // a keep flag — the operational gate in front of every ANN build
    // (one broken producer writes NaN vectors and every downstream
    // cosine turns NaN); pure narrow map
    "vec_quality" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      e.select(col("vec_id"),
          size(filter(col("embedding"), x => isnan(x))).cast("long").as("n_nan"),
          size(filter(col("embedding"), x => x === 0f)).cast("long").as("n_zero_dims"),
          GraftFunctions.l2_norm(col("embedding")).as("l2norm"))
        .withColumn("keep",
          col("n_nan") === 0L && !isnan(col("l2norm")) && col("l2norm") > 0.0)
        .orderBy(col("vec_id"))
    }),
    // leakage-safe grouped splits: assignment keyed on the registered
    // DOMAIN, so near-duplicate pages of one site cannot straddle
    // train/test (the content-keyed sample_split's grouped sibling)
    "sample_split_grouped" -> ((s, dir) =>
      graft.ops.Sampling.assignSplits(
          graft.ops.Curation.withUrlParts(
            graft.ops.Curation.synthUrls(t(s, dir, "documents")), col("url")),
          col("domain"))
        .select(col("doc_id"), col("domain"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))),
    "vec_norm" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      e.select(col("vec_id"),
        GraftFunctions.l2_norm(col("embedding")).as("norm"),
        element_at(GraftFunctions.l2_normalize(col("embedding")), 1).as("e0_unit"))
        .orderBy(col("vec_id"))
    }),
    "lsh_save_load" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tmp = tempDir("lsh_save_load")
      LshIndex.save(LshIndex.build(e, lshP), lshP, tmp)
      val (loaded, _) = LshIndex.load(s, tmp)
      LshIndex.bucketStats(loaded)
    }),
    // the bucketed-at-rest round trip (Redis-bucket-store analogue):
    // same oracle as lsh_save_load, but the reload serves collision
    // joins with no index-side exchange (spec-asserted in LshSpec)
    "lsh_save_load_bucketed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tmp = tempDir("lsh_bucketed")
      LshIndex.saveBucketed(LshIndex.build(e, lshP), lshP, "graft_lsh_idx_rt",
        path = Some(s"$tmp/tbl"))
      val (loaded, _) = LshIndex.loadBucketed(s, "graft_lsh_idx_rt")
      LshIndex.bucketStats(loaded)
    }),
    "lsh_delete_clear" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = LshIndex.build(e, lshP)
      LshIndex.delete(idx, e.filter(col("vec_id") < 10).select(col("vec_id")))
        .groupBy(col("band")).agg(count(lit(1)).as("n_entries"))
        .orderBy(col("band"))
    }),
    // --- F. streaming (driven to completion over the bounded source) ---
    "stream_windowed_agg" -> ((s, dir) => {
      val schema = t(s, dir, "events").schema
      val stream = s.readStream.schema(schema).parquet(streamDir(dir, "events"))
      // schema-branched µs conversion (shared with EventOps) — works
      // whether ts surfaced as int64 nanos (nanosAsLong sessions) or as
      // a timestamp type (plain driver sessions)
      val ev = stream.select(
        timestamp_micros(EventOps.microsOfTsCol(stream)).as("ts"),
        col("event_type"), col("value"))
      graft.streaming.Streams.runOnce(s,
          graft.streaming.Streams.windowedAgg(ev),
          s"swa_${System.nanoTime()}", OutputMode.Complete())
        .select(unix_micros(col("window_start")).as("start_us"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy(col("start_us"), col("event_type"))
    }),
    // sliding twin: same oracle as the BATCH events_sliding rollup —
    // the leading partial windows (start < 0) are clipped on both
    // sides, so the two faces agree window-for-window
    "stream_sliding_agg" -> ((s, dir) => {
      val schema = t(s, dir, "events").schema
      val stream = s.readStream.schema(schema).parquet(streamDir(dir, "events"))
      val ev = stream.select(
        timestamp_micros(EventOps.microsOfTsCol(stream)).as("ts"),
        col("event_type"), col("value"))
      graft.streaming.Streams.runOnce(s,
          graft.streaming.Streams.slidingAgg(ev),
          s"ssa_${System.nanoTime()}", OutputMode.Complete())
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n_events"), col("sum_value"))
        .filter(col("window_start_us") >= 0)
        .orderBy(col("window_start_us"), col("event_type"))
    }),
    "stream_dedup" -> ((s, dir) => {
      val schema = t(s, dir, "documents").schema
      val stream = s.readStream.schema(schema).parquet(streamDir(dir, "documents"))
      // synthetic event time; offset keeps every row above the initial
      // watermark (a ts at exactly epoch 0 is dropped as late data)
      val docs = stream.withColumn("ts",
        timestamp_micros(col("doc_id") + lit(86400000000L)))
      // survivors are first-arrival (race-dependent across partitions);
      // the deterministic surface is the distinct fingerprint set
      graft.streaming.Streams.runOnce(s,
          graft.streaming.Streams.dedupStream(docs),
          s"sdd_${System.nanoTime()}", OutputMode.Append())
        .select(col("fingerprint"))
        .orderBy(col("fingerprint"))
    }),
    // --- F. multimodal binary columns ---
    "mm_binary_meta" -> ((s, dir) =>
      graft.multimodal.Binary.metadataStats(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "mm_frame_sample" -> ((s, dir) =>
      graft.multimodal.Binary.frameSample(t(s, dir, "documents"))),
    "mm_sim_fingerprint" -> ((s, dir) =>
      graft.multimodal.Binary.simFingerprint(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    // synth and parse are inverse expression paths (LE encode vs LE
    // read); the oracle recomputes every field from doc_id arithmetic,
    // so a hash match proves the parser reads the real byte layout
    "mm_wav_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Wav.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Wav.parse(media)
        .select(col("doc_id"), col("media_type"), col("wav_valid"), col("channels"),
          col("sample_rate"), col("byte_rate"), col("block_align"),
          col("bits_per_sample"), col("data_bytes"), col("duration_ms"),
          col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // sample-level PCM decode: RMS / peak / clipping / DC offset read
    // from the actual data-chunk bytes (8-bit recentered, 16-bit LE
    // signed) — the audio-triage features past the header; Spark reads
    // payload bytes, the oracle recomputes from the source text chars,
    // so a hash match proves the byte-level decode
    "mm_wav_samples" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Wav.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Wav.sampleStats(media)
        .select(col("doc_id"), col("wav_valid"), col("bits_per_sample"),
          col("n_samples"), col("rms"), col("peak_abs"), col("n_clipped"),
          col("dc_mean"))
        .orderBy(col("doc_id"))
    }),
    // the image-side twin: BE layout + real chunk CRCs (Spark crc32 ≡
    // the zlib CRC PNG specifies); oracle re-derives every field from
    // doc_id arithmetic — a hash match proves the parser read the
    // actual big-endian bytes AND that the synthesized CRCs verify
    "mm_png_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Png.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Png.parse(media)
        .select(col("doc_id"), col("media_type"), col("png_valid"), col("width"),
          col("height"), col("bit_depth"), col("color_type"), col("channels"),
          col("interlace"), col("n_pixels"), col("idat_bytes"),
          col("ihdr_crc_ok"), col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // the variable-offset third family: the SOF marker position moves
    // doc-by-doc with the synthesized comment train, so a hash-exact
    // sof_offset column proves the codegen segment WALK (JpegSofOffset)
    // located the header, not a shared constant; every other field is
    // a BE read relative to that offset
    "mm_jpeg_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Jpeg.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Jpeg.parse(media)
        .select(col("doc_id"), col("media_type"), col("jpeg_valid"), col("sof_offset"),
          col("progressive"), col("jfif_present"), col("precision_bits"),
          col("height"), col("width"), col("n_components"), col("n_pixels"),
          col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // the LE-image fourth container family: fixed-offset BMP
    // (BITMAPFILEHEADER + 40-byte DIB) with the aligned-stride size
    // arithmetic reconciled against the physical payload; oracle
    // re-derives every field from doc_id arithmetic
    // COMPRESSED pixel decode: the PNG corpus carries real zlib IDAT
    // streams — Spark inflates them natively (ZlibInflate expression,
    // bomb-guarded), strips per-scanline filter bytes, and reads the
    // RGB bytes; the oracle recomputes from source text chars, so a
    // hash match proves the deflate→inflate→unfilter round trip
    "mm_png_pixels" -> ((s, dir) => {
      val media = graft.multimodal.Binary.PngPixels.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.PngPixels.pixelStats(media)
        .select(col("doc_id"), col("png_valid"), col("pixels_decoded"),
          col("mean_r"), col("mean_g"), col("mean_b"), col("peak_byte"))
        .orderBy(col("doc_id"))
    }),
    // pixel-level 24-bpp BMP decode: per-channel means + peak byte
    // read from the actual BGR bytes with the 4-byte row-stride walk;
    // oracle recomputes from the source text chars — a hash match
    // proves the stride-aware byte decode
    "mm_bmp_pixels" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Bmp.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Bmp.pixelStats(media)
        .select(col("doc_id"), col("bmp_valid"), col("pixels_decoded"),
          col("mean_b"), col("mean_g"), col("mean_r"), col("peak_byte"))
        .orderBy(col("doc_id"))
    }),
    "mm_bmp_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Bmp.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Bmp.parse(media)
        .select(col("doc_id"), col("media_type"), col("bmp_valid"), col("width"),
          col("height"), col("bits_per_pixel"), col("compression"),
          col("data_offset"), col("image_bytes"), col("row_stride"),
          col("n_pixels"), col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // GIF87a/89a logical-screen-descriptor codec: version, dims,
    // global color table geometry, trailer consistency — oracle
    // recomputes closed-form while Spark parses the actual bytes
    // WebP triage (r14, the ninth container family): RIFF walk + the
    // three first-chunk codecs' dimension encodings (VP8 14-bit+scale,
    // VP8L packed u32, VP8X u24 canvas), alpha/animation flags, and
    // the RIFF odd-chunk pad-byte lane — every field re-derived
    // closed-form by the oracle while Spark reads the bytes
    "mm_webp_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Webp.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Webp.parse(media)
        .select(col("doc_id"), col("media_type"), col("webp_valid"),
          col("format"), col("width"), col("height"), col("has_alpha"),
          col("has_animation"), col("x_scale"), col("y_scale"),
          col("n_pixels"), col("riff_size"), col("chunk_bytes"),
          col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // WebP pixel stats through a REAL VP8L decode (r15): canonical
    // prefix codes (simple + code-length-coded), LZ77 through the 2D
    // distance map, color cache, subtract-green — the encoder lane
    // rotates per doc so every coding path hits the gate; the oracle
    // recomputes channel sums closed-form while Spark decodes the bits
    "mm_webp_pixels" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Webp.synthPixelsFromDocs(
        t(s, dir, "documents"))
      graft.multimodal.Binary.Webp.pixelStats(media)
        .select(col("doc_id"), col("webp_valid"), col("pixels_decoded"),
          col("mean_r"), col("mean_g"), col("mean_b"), col("peak_byte"))
        .orderBy(col("doc_id"))
    }),
    "mm_gif_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Gif.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Gif.parse(media)
        .select(col("doc_id"), col("media_type"), col("gif_valid"),
          col("version"), col("width"), col("height"), col("has_gct"),
          col("gct_entries"), col("gct_bytes"), col("bg_index"),
          col("n_pixels"), col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // GIF pixel stats through a REAL LZW decode: block walk → code
    // stream → dictionary chains → palette lookups, one kernel pass;
    // the oracle recomputes channel sums from the closed-form indices
    // and the same text-derived palette while Spark decodes the bytes
    "mm_gif_pixels" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Gif.synthPixelsFromDocs(
        t(s, dir, "documents"))
      graft.multimodal.Binary.Gif.pixelStats(media)
        .select(col("doc_id"), col("gif_valid"), col("pixels_decoded"),
          col("mean_r"), col("mean_g"), col("mean_b"), col("peak_byte"))
        .orderBy(col("doc_id"))
    }),
    // JPEG pixel stats through a REAL baseline decode: Huffman entropy
    // decode (DC prediction, restart markers, byte unstuffing) →
    // dequantize → full integer IDCT → YCbCr→RGB, one kernel pass; the
    // corpus rotates grayscale / 4:4:4 / 4:2:0 flat-tile streams whose
    // DC-only blocks round-trip exactly, so the oracle recomputes the
    // decoded sums closed-form while Spark decodes the actual bits
    "mm_jpeg_pixels" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Jpeg.synthPixelsFromDocs(
        t(s, dir, "documents"))
      graft.multimodal.Binary.Jpeg.pixelStats(media)
        .select(col("doc_id"), col("jpeg_valid"), col("pixels_decoded"),
          col("mean_r"), col("mean_g"), col("mean_b"), col("peak_byte"))
        .orderBy(col("doc_id"))
    }),
    // EXIF triage — the image-PRIVACY pass: camera identity,
    // orientation, and the GPS-IFD PRESENCE flag (embedded capture
    // coordinates are the classic silent PII in published image
    // corpora); both TIFF byte orders, offset-addressed AND inline
    // ASCII values, a no-metadata lane distinct from the non-image
    // lane — oracle re-derives every field from doc_id arithmetic
    "mm_jpeg_exif" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Jpeg.synthExifFromDocs(
        t(s, dir, "documents"))
      graft.multimodal.Binary.Jpeg.exif(media)
        .select(col("doc_id"), col("exif_present"), col("byte_order"),
          col("n_ifd0_entries"), col("orientation"), col("make"),
          col("model"), col("has_gps"), col("gps_lat"), col("gps_lon"))
        .orderBy(col("doc_id"))
    }),
    // GPS-strip rewrite (r14): the privacy ACTION over the same Exif
    // corpus — strip, then RE-PARSE the stripped bytes; the oracle
    // pins exif-intact-but-gps-gone closed-form (entry count
    // decremented, make/model/orientation preserved, coordinates
    // null, payload length preserved, only the gps lane's bytes
    // changed)
    "mm_jpeg_gps_strip" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Jpeg.synthExifFromDocs(
        t(s, dir, "documents"))
      val staged = media.withColumn("__pre", col("payload"))
      val stripped = graft.multimodal.Binary.Jpeg.stripGps(staged)
      graft.multimodal.Binary.Jpeg.exif(stripped)
        .select(col("doc_id"), col("exif_present"), col("byte_order"),
          col("n_ifd0_entries"), col("orientation"), col("make"),
          col("model"), col("has_gps").as("gps_present"),
          col("gps_lat"), col("gps_lon"),
          (length(col("payload")) === length(col("__pre")))
            .as("len_preserved"),
          (col("payload") === col("__pre")).as("payload_unchanged"))
        .orderBy(col("doc_id"))
    }),
    // PDF container triage (the sixth family, and the one whose
    // structure is ASCII — the parse stays declarative): version,
    // object/stream/page counts, encryption flag, and the startxref
    // back-pointer actually FOLLOWED (the synth computes the real
    // byte offset, so startxref_ok proves an offset read, not a flag)
    "mm_pdf_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Pdf.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Pdf.parse(media)
        .select(col("doc_id"), col("media_type"), col("pdf_valid"),
          col("version"), col("n_objects"), col("n_streams"), col("n_pages"),
          col("encrypted"), col("xref_layout"), col("declared_size"),
          col("startxref_ok"), col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // REAL PDF text extraction: declared-/Length stream slices (bytes
    // may contain any pattern — the WARC lesson one level down), a
    // genuine zlib inflate of each FlateDecode body, Tj operators
    // collected in stream order; the oracle recomputes the text
    // closed-form while Spark actually decompresses the bits
    "mm_pdf_text" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Pdf.synthTextFromDocs(
        t(s, dir, "documents"))
      graft.multimodal.Binary.Pdf.extractText(media)
        .select(col("doc_id"), col("n_text_streams"), col("pdf_text"),
          col("pdf_text_hash"))
        .orderBy(col("doc_id"))
    }),
    // perceptual image dedup: dHash over the DECODED raster (the
    // full JPEG entropy decode feeds it), then the window-free
    // keep-ledger; paired docs share a planted tile pattern so real
    // duplicate groups form, and the oracle recomputes the 64
    // gradient bits closed-form (exactly one flat tile per dHash
    // grid cell: 9×8 tiles of 8px). r13: each pair's ODD member is a
    // PROGRESSIVE (SOF2) re-encode of the same tiles — the collision
    // now proves perceptual dedup sees across the baseline/
    // progressive layout divide (content collides, bytes don't)
    "mm_image_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val k = expr("(doc_id div 2) * 2")
      def tileAt(idx: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(lit("img|"), k.cast("string"),
          lit("|"), idx.cast("string"))), 1, 2), 16, 10).cast("int")
      val tiles = transform(sequence(lit(0), lit(71)), tt => tileAt(tt))
      // d%4==3 members are STORED rotated 90° CCW with an EXIF
      // orientation-6 tag (rotate 90 CW to display) — the upright
      // raster is identical, so the dHash, the groups, and the
      // closed-form oracle are unchanged; the collision now crosses
      // the ORIENTATION divide as well as the progressive one (r15)
      val rotTiles = transform(sequence(lit(0), lit(71)), i =>
        tileAt(pmod(i, lit(8)) * 9 + lit(8) - floor(i / 8)))
      val params = when(d % 4 === 3,
          array(lit(8), lit(9), lit(0), lit(0), lit(0), lit(6)))
        .otherwise(array(lit(9), lit(8), lit(0), lit(0),
          when(d % 4 === 1, lit(1)).otherwise(lit(0)).cast("int"), lit(0)))
      val jpg = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.JpegSynthEncode(
          org.apache.spark.sql.GraftColumnBridge.expression(
            when(d % 4 === 3, rotTiles).otherwise(tiles)),
          org.apache.spark.sql.GraftColumnBridge.expression(params)))
      // d%4==2 members carry the SAME raster as a VP8L WebP (gray
      // pixels expanded from the tile grid), so the (2,3) pairs'
      // collision crosses the CODEC divide — lossless WebP decode →
      // identical raster → identical dHash; oracle unchanged (r15).
      // The 4608-pixel expansion runs as the codegen TileExpand
      // kernel, NOT a per-pixel interpreted transform lambda — the
      // r13 mm_png_pixels lesson resurfaced here as a 9× driver-row
      // build regression in the quiet bench
      val webpPx = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.TileExpand(
          org.apache.spark.sql.GraftColumnBridge.expression(col("__tiles")),
          org.apache.spark.sql.GraftColumnBridge.expression(lit(1))))
      val webp = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.Vp8lEncode(
          org.apache.spark.sql.GraftColumnBridge.expression(webpPx),
          org.apache.spark.sql.GraftColumnBridge.expression(lit(72)),
          org.apache.spark.sql.GraftColumnBridge.expression(lit(1))))
      // d%4==0 members carry the SAME raster as a gray LZW TIFF, so
      // the (0,1) pairs' collision crosses the TIFF↔progressive-JPEG
      // codec divide through a real dictionary-growing LZW decode;
      // the upright raster is identical, oracle unchanged (r15)
      val tiffPx = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.TileExpand(
          org.apache.spark.sql.GraftColumnBridge.expression(col("__tiles")),
          org.apache.spark.sql.GraftColumnBridge.expression(lit(0))))
      val tiff = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.TiffGrayEncode(
          org.apache.spark.sql.GraftColumnBridge.expression(tiffPx),
          org.apache.spark.sql.GraftColumnBridge.expression(lit(72))))
      val media = docs.withColumn("__tiles", tiles).select(d,
        when(d % 10 === 0, col("text").cast("binary"))
          .when(d % 4 === 2, webp)
          .when(d % 4 === 0, tiff)
          .otherwise(jpg)
          .as("payload"))
      graft.multimodal.Binary.imageDedup(media)
        .select(d, col("image_valid"), col("dhash_hi"), col("dhash_lo"),
          when(col("image_valid"), col("n_copies")).as("n_copies"),
          when(col("image_valid"), col("keeper_id")).as("keeper_id"),
          col("is_canonical"))
        .orderBy(d)
    }),
    // perceptual AUDIO dedup: the energy-gradient fingerprint over
    // DECODED PCM samples feeds the same window-free keep-ledger;
    // paired docs share planted window amplitudes (one flat window
    // per fingerprint window) so the oracle recomputes all 64 bits
    // closed-form while Spark decodes real little-endian samples
    "mm_audio_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val k = expr("(doc_id div 2) * 2")
      // cross-codec pairs (r15): the EVEN member ships the planted
      // 65-window stream as WAV PCM, the ODD member as a REAL FLAC
      // encode (d%4==1) or an Ogg-FLAC re-mux of that encode
      // (d%4==3) of the SAME samples — identical decoded audio,
      // entirely different bytes AND containers, so the collision
      // proves the rice frame decode and the page reassembly; the
      // closed-form oracle is unchanged
      val wavM = graft.multimodal.Binary.Wav.synthWindowedFromDocs(docs, k)
        .select(d, col("payload").as("wp"), col("media_type").as("wt"))
      val flacM = graft.multimodal.Binary.Flac.synthWindowedFromDocs(docs, k)
        .select(d, col("payload").as("fp"), col("media_type").as("ft"))
      val oggM = graft.multimodal.Binary.Ogg.synthWindowedFromDocs(docs, k)
        .select(d, col("payload").as("op"), col("media_type").as("ot"))
      val media = wavM.join(flacM, Seq("doc_id")).join(oggM, Seq("doc_id"))
        .select(d,
          when(d % 2 === 0, col("wp"))
            .when(d % 4 === 1, col("fp")).otherwise(col("op")).as("payload"),
          when(d % 2 === 0, col("wt"))
            .when(d % 4 === 1, col("ft")).otherwise(col("ot")).as("media_type"))
      graft.multimodal.Binary.audioDedup(media)
        .select(d, col("audio_valid"), col("ahash_hi"), col("ahash_lo"),
          when(col("audio_valid"), col("n_copies")).as("n_copies"),
          when(col("audio_valid"), col("keeper_id")).as("keeper_id"),
          col("is_canonical"))
        .orderBy(d)
    }),
    // MP4/ISO-BMFF container triage (the VIDEO family): nested box
    // path walk (ftyp brand, moov/mvhd timescale+duration with
    // v0/v1 layouts, a planted `free` box SHIFTS moov so the locate
    // proves a walk), exact integer duration arithmetic
    "mm_mp4_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Mp4.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Mp4.parse(media)
        .select(col("doc_id"), col("media_type"), col("mp4_valid"),
          col("major_brand"), col("n_top_boxes"), col("has_mdat"),
          col("mvhd_version"), col("timescale"), col("duration"),
          col("duration_ms"))
        .orderBy(col("doc_id"))
    }),
    // container triage over a mixed blob column: detect by magic
    // bytes, parse the matching codec, one uniform row per blob; the
    // mixing joins exist only to SYNTHESIZE the test corpus —
    // production triage reads one payload column as-is
    "mm_media_triage" -> ((s, dir) => {
      // unspread load: with the spread in `t`, EVERY one of the 18
      // union lanes paid its own exchange and the cached corpus came
      // out as lanes × parallelism tiny partitions (576 tasks per pass
      // measured — build regressed 5.8→7.2 s). Spread ONCE on the
      // unioned corpus below instead: one exchange, synth encoders run
      // lane-parallel, the triage parse runs `defaultParallelism`-wide.
      val docs = tNarrow(s, dir, "documents")
      val d = col("doc_id")
      import graft.multimodal.Binary
      // lane modulus 23 (17 families on lanes 1-17, text on 0/18-22)
      // is COPRIME with the synths' %10 corrupt lane, so every
      // family contributes corrupt/text-fallback members (r15). The
      // corpus is a UNION of per-lane synth branches, each its own
      // small codegen stage, materialized BEFORE the triage parse:
      // the old join+CASE wiring fused fifteen synth encoder trees
      // and nineteen parse kernels into one whole-stage method,
      // exceeding janino's 64 KB limit and silently running the gate
      // interpreted (r15 finding — since family thirteen). Gate
      // wiring only: production triage reads payloads as-is.
      val synths: Seq[DataFrame => DataFrame] = Seq(
        Binary.Wav.synthFromDocs(_), Binary.Png.synthFromDocs(_),
        Binary.Jpeg.synthFromDocs(_), Binary.Bmp.synthFromDocs(_),
        Binary.Webp.synthFromDocs(_), Binary.Tiff.synthFromDocs(_),
        Binary.Mp3.synthFromDocs(_), Binary.Flac.synthFromDocs(_),
        Binary.Ogg.synthFromDocs(_), Binary.Mkv.synthFromDocs(_),
        Binary.Avro.synthFromDocs(_), Binary.Parquet.synthFromDocs(_),
        Binary.Orc.synthFromDocs(_), Binary.Gz.synthFromDocs(_),
        Binary.Zstd.synthFromDocs(_), Binary.Ico.synthFromDocs(_),
        Binary.Heif.synthFromDocs(_))
      val familyLanes = synths.zipWithIndex.map { case (synth, k) =>
        synth(docs.where(d % 23 === (k + 1))).select(d, col("payload"))
      }
      val textLane = docs.where(d % 23 === 0 || d % 23 >= 18)
        .select(d, col("text").cast("binary").as("payload"))
      val mixed = (familyLanes :+ textLane).reduce(_.unionAll(_))
        .repartition(s.sparkContext.defaultParallelism)
      // The corpus is persisted and materialized once, so the synth
      // lanes run exactly once; its lineage stays intact, so an
      // evicted block recomputes from the synth lanes.
      val corpus = graft.ops.Caching.materialized(mixed)(())
      graft.ops.Caching.materialized(
        Binary.triage(corpus).orderBy(d)) {
        corpus.unpersist(false)
      }
    }),
    // Avro OCF container triage — the FIFTEENTH family (r15): varint
    // metadata-map walk, schema-JSON signature, sync-framed block
    // accounting with the sync-equality integrity verdict — every
    // field re-derived closed-form by the oracle while Spark walks
    // actual varints
    "mm_avro_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Avro.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Avro.parse(media)
        .select(col("doc_id"), col("media_type"), col("avro_valid"),
          col("codec"), col("schema_type"), col("schema_name"),
          col("schema_bytes"), col("n_meta_entries"), col("n_blocks"),
          col("n_records"), col("data_bytes"), col("sync_ok"),
          col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // flat-record Avro decode tier (r15): every record of a
    // primitives-only schema decoded (zigzag longs, length-prefixed
    // strings, booleans) — the oracle recomputes the record-grain
    // aggregates closed-form while Spark decodes actual bytes;
    // non-null codecs and non-flat schemas refuse (decode_ok false)
    "mm_avro_records" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Avro.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Avro.recordStats(media)
        .select(col("doc_id"), col("avro_valid"), col("decode_ok"),
          col("n_fields"), col("n_records"), col("int_sum"),
          col("string_bytes"), col("bool_trues"))
        .orderBy(col("doc_id"))
    }),
    // gzip container triage — the EIGHTEENTH family (r15): the wire
    // framing of .warc.gz/.jsonl.gz corpora — RFC 1952 member walk
    // with every body REALLY inflated, per-member CRC32/ISIZE
    // verdicts, FNAME and flipped-CRC lanes — every field re-derived
    // closed-form by the oracle while Spark inflates actual deflate
    "mm_gzip_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Gz.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Gz.parse(media)
        .select(col("doc_id"), col("media_type"), col("gzip_valid"),
          col("n_members"), col("uncompressed_bytes"), col("n_named"),
          col("first_mtime"), col("crc_ok"), col("isize_ok"),
          col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // ICO container triage + pixel tier — the TWENTIETH family (r15):
    // the favicon, decoded by COMPOSING existing kernels — PNG
    // entries through the real zlib inflate + scanline unfilter, DIB
    // entries through the doubled-height bottom-up stride walk; the
    // oracle recomputes entry counts, declared dims, and the RGB
    // pixel sum closed-form; the d%20==11 lane lies in an entry's
    // width byte (dims_match false — the integrity lane)
    "mm_ico_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Ico.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Ico.parse(media)
        .select(col("doc_id"), col("media_type"), col("ico_valid"),
          col("n_icons"), col("n_png_entries"), col("n_dib_entries"),
          col("max_width"), col("max_height"), col("entries_ok"),
          col("n_decoded"), col("pixel_sum"), col("dims_match"),
          col("total_image_bytes"))
        .orderBy(col("doc_id"))
    }),
    // zstd container triage — the NINETEENTH family (r15): the other
    // wire framing of shipped corpora (.jsonl.zst shards) — RFC 8878
    // frame walk rotating FCS widths / single-segment / dictionary-ID
    // / skippable-frame lanes, raw+RLE content reconstructed and
    // XXH64-checksummed in the walk (flipped-checksum integrity
    // lane) — every field re-derived closed-form by the oracle while
    // Spark walks actual frame headers and block chains
    "mm_zstd_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Zstd.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Zstd.parse(media)
        .select(col("doc_id"), col("media_type"), col("zstd_valid"),
          col("n_frames"), col("n_skippable"), col("skippable_bytes"),
          col("n_blocks"), col("n_rle_blocks"), col("n_compressed_blocks"),
          col("uncompressed_bytes"), col("n_declared"),
          col("declared_bytes"), col("size_match"), col("single_segment"),
          col("window_log"), col("dict_id"), col("n_checksummed"),
          col("checksum_ok"), col("decode_ok"), col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // Parquet DATA-PAGE decode tier (r15): past the footer and into
    // the bytes — page-header chains walked per column chunk, bodies
    // REALLY decompressed through all four classpath codecs
    // (uncompressed/snappy/gzip/zstd rotated by d%4), INT64 PLAIN
    // values decoded to a sum the oracle recomputes closed-form; the
    // d%20==7 lane lies about chunk num_values (values_match false,
    // pages still decode — the size-bounded-walk discipline)
    "mm_parquet_pages" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Parquet.synthFilesFromDocs(
        t(s, dir, "documents"))
      graft.multimodal.Binary.Parquet.pageStats(media)
        .select(col("doc_id"), col("media_type"), col("pages_valid"),
          col("n_chunks"), col("codec"), col("n_pages"),
          col("n_data_pages"), col("n_dict_pages"), col("page_values"),
          col("values_match"), col("n_decoded_chunks"), col("int64_sum"),
          col("uncompressed_bytes"))
        .orderBy(col("doc_id"))
    }),
    // ORC footer triage — the SEVENTEENTH family (r15), completing
    // the lake trio (Avro varints, Parquet thrift-compact, ORC
    // protobuf): PostScript/Footer wire walk, real ORC-zlib chunk
    // decompression on odd docs, stripe accounting with the
    // sum-of-stripe-rows integrity verdict — every field re-derived
    // closed-form by the oracle while Spark walks actual protobuf
    "mm_orc_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Orc.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Orc.parse(media)
        .select(col("doc_id"), col("media_type"), col("orc_valid"),
          col("compression"), col("footer_decoded"), col("num_rows"),
          col("n_stripes"), col("stripe_rows"), col("n_types"),
          col("n_cols"), col("content_length"), col("writer_version"),
          col("footer_bytes"), col("metadata_bytes"),
          col("stripe_rows_match"))
        .orderBy(col("doc_id"))
    }),
    // Parquet FOOTER triage — the SIXTEENTH family (r15): thrift-
    // compact walk of FileMetaData (version, num_rows, schema leaves,
    // row groups, created_by, the Σ-row-group-rows integrity verdict)
    // — every field re-derived closed-form by the oracle while Spark
    // walks actual field headers and zigzag varints
    "mm_parquet_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Parquet.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Parquet.parse(media)
        .select(col("doc_id"), col("media_type"), col("parquet_valid"),
          col("version"), col("num_rows"), col("n_row_groups"),
          col("n_columns"), col("n_schema_elements"),
          col("total_byte_size"), col("created_by"), col("rows_match"),
          col("footer_bytes"))
        .orderBy(col("doc_id"))
    }),
    // MP3 container triage — the ELEVENTH family (r15): ID3v2 prefix,
    // Layer III frame walk with the version×bitrate×rate length
    // arithmetic, exact integer duration, ID3v1 trailer — every field
    // re-derived closed-form by the oracle while Spark walks frames
    "mm_mp3_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Mp3.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Mp3.parse(media)
        .select(col("doc_id"), col("media_type"), col("mp3_valid"),
          col("has_id3v2"), col("id3v2_bytes"), col("mpeg_version"),
          col("layer"), col("bitrate_kbps"), col("sample_rate"),
          col("channel_mode"), col("n_frames"), col("duration_ms"),
          col("has_id3v1"), col("is_vbr"), col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // FLAC container triage — the TWELFTH family (r15): metadata-block
    // chain, STREAMINFO packed-bit fields, exact integer duration,
    // VORBIS_COMMENT/PADDING lanes — oracle re-derives every field
    "mm_flac_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Flac.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Flac.parse(media)
        .select(col("doc_id"), col("media_type"), col("flac_valid"),
          col("sample_rate"), col("channels"), col("bits_per_sample"),
          col("total_samples"), col("duration_ms"), col("n_blocks"),
          col("has_vorbis_comment"), col("min_block_size"),
          col("max_block_size"), col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // sample-level FLAC decode (r15): REAL rice-coded fixed/LPC
    // frame decode behind the triage row — constant/verbatim/fixed/
    // LPC subframe lanes, rice + rice2 partitions, left-side and
    // mid-side stereo decorrelation, both frame CRCs, integer sample
    // stats; the oracle recomputes every stat closed-form from
    // doc_id while Spark decodes actual bits — a hash match proves
    // the bit-level decode across every coding lane
    "mm_flac_samples" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Flac.synthAudioFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Flac.sampleStats(media)
        .select(col("doc_id"), col("flac_valid"), col("decode_ok"),
          col("channels"), col("bits_per_sample"), col("n_frames"),
          col("n_samples"), col("sample_sum"), col("sample_sum_sq"),
          col("peak_abs"), col("crc_ok"), col("matches_streaminfo"))
        .orderBy(col("doc_id"))
    }),
    // sample-level Ogg-FLAC decode (r15 continuation): container
    // unwrapping COMPOSED with the FLAC frame decode — page walk with
    // per-page CRC verification, cross-page packet reassembly
    // (lacing-255 spills + continuation flags), mapping-header strip,
    // then the same rice/LPC decode as mm_flac_samples; the oracle
    // recomputes every stat closed-form from doc_id while Spark
    // reassembles and decodes actual bits, so a hash match proves
    // BOTH layers (Vorbis/Opus stay triage-only: float MDCT codecs
    // admit no bit-exact closed-form oracle — the MP3 posture)
    "mm_ogg_samples" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Ogg.synthAudioFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Ogg.sampleStats(media)
        .select(col("doc_id"), col("oggflac_valid"), col("n_pages"),
          col("pages_crc_ok"), col("decode_ok"), col("channels"),
          col("bits_per_sample"), col("n_frames"), col("n_samples"),
          col("sample_sum"), col("sample_sum_sq"), col("peak_abs"),
          col("frame_crc_ok"), col("matches_streaminfo"))
        .orderBy(col("doc_id"))
    }),
    // ANIMATED GIF frame walk (r15 continuation): one row per frame —
    // GCE delay/disposal/transparency, sub-rectangle placement, local
    // color tables, the NETSCAPE loop extension, and a REAL LZW
    // decode of EVERY frame; the oracle re-derives every field and
    // per-frame channel sum closed-form from doc_id while Spark
    // walks blocks and decodes actual code streams
    "mm_gif_frames" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Gif.synthAnimFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Gif.frames(media)
        .select(col("doc_id"), col("gif_valid"), col("canvas_w"),
          col("canvas_h"), col("n_frames"), col("loop_count"),
          col("total_delay_ms"), col("frame_idx"), col("delay_ms"),
          col("disposal"), col("transparent_idx"), col("frame_left"),
          col("frame_top"), col("frame_w"), col("frame_h"),
          col("has_lct"), col("frame_pixels"), col("sum_r"),
          col("sum_g"), col("sum_b"), col("peak_byte"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),
    // OGG container triage — the THIRTEENTH family (r15): page walk
    // with real per-page CRC-32 verification, lacing-table packet
    // accounting, Vorbis/Opus/Ogg-FLAC ID-header parse, exact
    // granule-position duration — every field re-derived closed-form
    // by the oracle while Spark walks and checksums actual pages
    "mm_ogg_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Ogg.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Ogg.parse(media)
        .select(col("doc_id"), col("media_type"), col("ogg_valid"),
          col("codec"), col("sample_rate"), col("channels"),
          col("pre_skip"), col("n_pages"), col("n_packets"),
          col("last_granule"), col("duration_ms"), col("crc_ok"),
          col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // Matroska/WebM container triage — the FOURTEENTH family (r15):
    // EBML varint walk, doctype, float duration × timecode scale,
    // per-track codec/dims/audio params, cluster count — every field
    // re-derived closed-form by the oracle while Spark walks varints
    "mm_mkv_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Mkv.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Mkv.parse(media)
        .select(col("doc_id"), col("media_type"), col("mkv_valid"),
          col("doctype"), col("doctype_version"), col("timecode_scale"),
          col("duration_ms"), col("n_tracks"), col("video_codec"),
          col("pixel_width"), col("pixel_height"), col("audio_codec"),
          col("audio_channels"), col("audio_sample_rate"),
          col("n_clusters"), col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // TIFF container triage — the TENTH family (r15): both byte
    // orders, multi-page IFD chains, strip vs tile layouts, inline
    // and out-of-line value arrays — every field re-derived
    // closed-form by the oracle while Spark walks the actual IFDs
    "mm_tiff_meta" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Tiff.synthFromDocs(t(s, dir, "documents"))
      graft.multimodal.Binary.Tiff.parse(media)
        .select(col("doc_id"), col("media_type"), col("tiff_valid"),
          col("byte_order"), col("n_ifds"), col("n_ifd0_entries"),
          col("width"), col("height"), col("bits_per_sample"),
          col("samples_per_pixel"), col("compression"), col("photometric"),
          col("layout"), col("n_units"), col("rows_per_strip"),
          col("tile_w"), col("tile_h"), col("n_pixels"),
          col("header_consistent"))
        .orderBy(col("doc_id"))
    }),
    // TIFF pixel stats through a REAL strip/tile decode (r15): the
    // lanes rotate compression none/LZW/PackBits/Deflate, gray vs
    // RGB, strip count, 16×16 tiling with clipped padding, and the
    // horizontal-differencing predictor; the oracle recomputes
    // channel sums from the closed-form raster bytes while Spark
    // decompresses the actual streams
    "mm_tiff_pixels" -> ((s, dir) => {
      val media = graft.multimodal.Binary.Tiff.synthPixelsFromDocs(
        t(s, dir, "documents"))
      graft.multimodal.Binary.Tiff.pixelStats(media)
        .select(col("doc_id"), col("tiff_valid"), col("pixels_decoded"),
          col("mean_r"), col("mean_g"), col("mean_b"), col("peak_byte"))
        .orderBy(col("doc_id"))
    }),
    "lsh_config" -> ((s, dir) => {
      import s.implicits._
      val grid = for {
        np <- Seq(128, 256, 512, 4096, 16384)
        tgt <- Seq(0.5, 0.8, 0.9)
      } yield {
        val (b, r) = LshConfig.optimalConfig(np, tgt)
        (np, tgt, b, r, LshConfig.threshold(b, r))
      }
      grid.toDF("num_perm", "target_threshold", "b", "r", "actual_threshold")
        .orderBy(col("num_perm"), col("target_threshold"))
    }),
  )

  /** Default LSH layout for the test corpus (dim=64): 8 bands × 4 rows,
    * threshold ≈ 0.59. Shared with OracleSql so the DuckDB plane
    * literals mirror exactly.
    */
  val lshP = LshParams(dim = 64, numPerm = 32, numBands = Some(8), rowsPerBand = Some(4))
  /** A rowsPerBand > 64 config — exercises the byte-packed wide path. */
  val lshWideP = LshParams(dim = 64, numPerm = 144, numBands = Some(2), rowsPerBand = Some(72))

  /** Recall-oriented layout for ANN serving: more bands, same rows. */
  val lshRecallP = LshParams(dim = 64, numPerm = 64, numBands = Some(16), rowsPerBand = Some(4))

  /** DuckDB-equivalent ANSI SQL per query (driver correctness gate). */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY o_orderkey""".stripMargin,
    "q5_region_join" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_topn_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "q_profile" ->
      """WITH src AS (SELECT * FROM orders)
        |SELECT * FROM (
        |SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
        |  count(*) FILTER (o_orderkey IS NULL) AS n_null,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  min(o_orderkey)::DOUBLE AS min_num, max(o_orderkey)::DOUBLE AS max_num,
        |  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM src
        |UNION ALL
        |SELECT 'o_custkey', count(*), count(*) FILTER (o_custkey IS NULL),
        |  count(DISTINCT o_custkey),
        |  min(o_custkey)::DOUBLE, max(o_custkey)::DOUBLE, NULL, NULL FROM src
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(*) FILTER (o_orderstatus IS NULL),
        |  count(DISTINCT o_orderstatus), NULL::DOUBLE, NULL::DOUBLE,
        |  min(o_orderstatus), max(o_orderstatus) FROM src
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(*) FILTER (o_totalprice IS NULL),
        |  count(DISTINCT o_totalprice),
        |  min(o_totalprice), max(o_totalprice), NULL, NULL FROM src
        |UNION ALL
        |SELECT 'o_orderdate', count(*), count(*) FILTER (o_orderdate IS NULL),
        |  count(DISTINCT o_orderdate),
        |  min(epoch_us(o_orderdate))::DOUBLE, max(epoch_us(o_orderdate))::DOUBLE,
        |  NULL, NULL FROM src
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(*) FILTER (o_orderpriority IS NULL),
        |  count(DISTINCT o_orderpriority), NULL::DOUBLE, NULL::DOUBLE,
        |  min(o_orderpriority), max(o_orderpriority) FROM src)
        |ORDER BY "column"""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "events_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sessions AS (
        |  SELECT user_id, us,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  min(us) AS start_us, max(us) AS end_us
        |FROM sessions
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "events_windowed" ->
      """SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_bucket, event_type""".stripMargin,
    "events_cube" ->
      """WITH e AS (SELECT event_type,
        |  (epoch_us(ts) // 3600000000) % 24 AS hour_of_day, value FROM events)
        |SELECT event_type, hour_of_day,
        |  GROUPING(event_type, hour_of_day)::BIGINT AS gid,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY CUBE(event_type, hour_of_day)
        |ORDER BY gid, event_type, hour_of_day""".stripMargin,
    "events_pivot" ->
      """WITH e AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
        |  event_type, value FROM events)
        |SELECT hour_of_day,
        |  count(*) FILTER (WHERE event_type = 'click') AS click_n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS click_sum,
        |  count(*) FILTER (WHERE event_type = 'error') AS error_n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'error') AS DOUBLE) AS error_sum,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase_n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase_sum,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup_n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'signup') AS DOUBLE) AS signup_sum,
        |  count(*) FILTER (WHERE event_type = 'view') AS view_n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS view_sum
        |FROM e GROUP BY hour_of_day
        |ORDER BY hour_of_day""".stripMargin,
    "events_histogram" ->
      """WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(value) AS lo, max(value) AS hi FROM v),
        |binned AS (
        |  SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
        |    ELSE least(CAST(floor((value - lo) / (hi - lo) * 20) AS BIGINT), 19) END AS bin,
        |    value, lo, hi
        |  FROM v, b),
        |g AS (
        |  SELECT bin, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |    min(lo) AS lo, min(hi) AS hi
        |  FROM binned GROUP BY bin)
        |SELECT bin,
        |  lo + (hi - lo) * bin / 20.0 AS bin_lo,
        |  lo + (hi - lo) * (bin + 1) / 20.0 AS bin_hi,
        |  n_events, sum_value
        |FROM g ORDER BY bin""".stripMargin,
    "events_range_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |  FROM events WHERE epoch_us(ts) IS NOT NULL)
        |SELECT x.user_id, x.event_id AS e1, y.event_id AS e2,
        |  abs(x.us - y.us) AS gap_us
        |FROM e x JOIN e y
        |  ON x.user_id = y.user_id AND x.event_id < y.event_id
        |  AND abs(x.us - y.us) <= 300000000
        |ORDER BY e1, e2""".stripMargin,
    "events_asof" ->
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id AS ord_v, 1 AS side,
        |         CAST(NULL AS STRUCT(event_id BIGINT, "value" DOUBLE)) AS payload
        |  FROM events
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), event_id, 0,
        |         {'event_id': event_id, 'value': "value"}
        |  FROM events
        |  WHERE event_type = 'purchase' AND epoch_us(ts) IS NOT NULL),
        |m AS (
        |  SELECT user_id, us, ord_v, side,
        |    CASE WHEN us IS NOT NULL THEN
        |      last_value(payload IGNORE NULLS) OVER (
        |        PARTITION BY user_id ORDER BY us, side, ord_v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    END AS m
        |  FROM u)
        |SELECT user_id, ord_v AS event_id, us,
        |  m.event_id AS asof_event_id, m."value" AS asof_value
        |FROM m WHERE side = 1
        |ORDER BY event_id""".stripMargin,
    "events_percentiles" ->
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90,
        |  quantile_cont(value, 0.99) AS p99,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "text_tokens" -> OracleSql.textTokens,
    "text_tokens_unicode" -> OracleSql.textTokensUnicode,
    "text_quality" -> OracleSql.textQuality,
    "text_entropy" -> OracleSql.textEntropy,
    "text_langid" -> OracleSql.textLangid,
    "text_scripts" -> OracleSql.textScripts,
    "text_html_extract" -> OracleSql.textHtmlExtract,
    "text_html_meta" -> OracleSql.textHtmlMeta,
    "robots_parse" -> OracleSql.robotsParse,
    "web_sitemap" -> OracleSql.webSitemap,
    "web_feed" -> OracleSql.webFeed,
    "text_jsonl_parse" -> OracleSql.textJsonlParse,
    "corpus_language_mix" -> OracleSql.corpusLanguageMix,
    "text_fingerprint" -> OracleSql.textFingerprint,
    "text_chunks" -> OracleSql.textChunks,
    "text_keywords" -> OracleSql.textKeywords,
    "text_sentences" -> OracleSql.textSentences,
    "text_sentence_chunks" -> OracleSql.textSentenceChunks,
    "text_dup_chunk_ratio" -> OracleSql.textDupChunkRatio,
    "text_repetition" -> OracleSql.textRepetition,
    "text_pii" -> OracleSql.textPii,
    "text_inverted_index" -> OracleSql.textInvertedIndex,
    "corpus_heavy_hitters" -> OracleSql.corpusHeavyHitters,
    "text_search_topk" -> OracleSql.textSearchTopK,
    "text_search_hybrid" -> OracleSql.textSearchHybrid,
    "text_search_hybrid_indexed" -> OracleSql.textSearchHybridIndexed,
    "text_search_topk_persisted" -> OracleSql.textSearchTopK,
    "text_search_batch" -> OracleSql.textSearchBatch,
    "text_search_hybrid_batch" -> OracleSql.textSearchHybridBatch,
    "text_winnow" -> OracleSql.textWinnow,
    "text_containment" -> OracleSql.textContainment,
    "text_gopher" -> OracleSql.textGopher,
    "text_markdown" -> OracleSql.textMarkdown,
    "text_bm25" -> OracleSql.textBm25,
    "corpus_stats" -> OracleSql.corpusStats,
    "corpus_rollup" -> OracleSql.corpusRollup,
    "events_funnel" -> OracleSql.eventsFunnel,
    "events_retention" -> OracleSql.eventsRetention,
    "events_streaks" -> OracleSql.eventsStreaks,
    "mm_frame_sample" -> OracleSql.mmFrameSample,
    "mm_sim_fingerprint" -> OracleSql.mmSimFingerprint,
    "sample_quality_filter" -> OracleSql.sampleQualityFilter,
    "events_anomaly" -> OracleSql.eventsAnomaly,
    "events_props_agg" -> OracleSql.eventsPropsAgg,
    "sample_split" -> OracleSql.sampleSplit,
    "sample_weighted" -> OracleSql.sampleWeighted,
    "sample_temperature" -> OracleSql.sampleTemperature,
    "sample_language_balance" -> OracleSql.sampleLanguageBalance,
    "sample_stratified" -> OracleSql.sampleStratified,
    "url_domains" -> OracleSql.urlDomains,
    "url_domains_psl" -> OracleSql.urlDomainsPsl,
    "domain_quota" -> OracleSql.domainQuota,
    "domain_quota_incremental" -> OracleSql.domainQuotaIncremental,
    "sample_split_grouped" -> OracleSql.sampleSplitGrouped,
    "vec_quality" -> OracleSql.vecQuality,
    "domain_blocklist" -> OracleSql.domainBlocklist,
    "url_canonicalize" -> OracleSql.urlCanonicalize,
    "text_strip_boilerplate" -> OracleSql.textStripBoilerplate,
    "text_word_blocklist" -> OracleSql.textWordBlocklist,
    "pipeline_curate" -> OracleSql.pipelineCurate,
    "pipeline_crawl" -> OracleSql.pipelineCrawl,
    "frontier_seen" -> OracleSql.frontierSeen,
    "warc_records" -> OracleSql.warcRecords,
    "warc_gz_records" -> OracleSql.warcGzRecords,
    "warc_http_meta" -> OracleSql.warcHttpMeta,
    "wds_samples" -> OracleSql.wdsSamples,
    // the .tgz composition decodes to the IDENTICAL sample table —
    // the compression layer must be lossless, so the oracle is shared
    "wds_tgz_samples" -> OracleSql.wdsSamples,
    "wds_tzst_samples" -> OracleSql.wdsSamples,
    "domain_stats" -> OracleSql.domainStats,
    "domain_quality" -> OracleSql.domainQuality,
    "robots_gate" -> OracleSql.robotsGate,
    "sample_token_budget" -> OracleSql.sampleTokenBudget,
    "web_link_graph" -> OracleSql.webLinkGraph,
    "web_pagerank" -> OracleSql.webPagerank,
    "web_host_clusters" -> OracleSql.webHostClusters,
    "crawl_frontier" -> OracleSql.crawlFrontier,
    "web_anchor_terms" -> OracleSql.webAnchorTerms,
    "sample_epoch_mix" -> OracleSql.sampleEpochMix,
    "sample_dsir" -> OracleSql.sampleDsir,
    "sample_dsir_persisted" -> OracleSql.sampleDsir,
    "corpus_cms_counts" -> OracleSql.corpusCmsCounts,
    "seq_pack" -> OracleSql.seqPack,
    "corpus_shuffle" -> OracleSql.corpusShuffle,
    "chunks_dedup" -> OracleSql.chunksDedup,
    "text_decontaminate" -> OracleSql.textDecontaminate,
    "text_decontaminate_fuzzy" -> OracleSql.textDecontaminateFuzzy,
    "text_dup_spans" -> OracleSql.textDupSpans,
    "text_dedup_substrings" -> OracleSql.textDedupSubstrings,
    "events_top_paths" -> OracleSql.eventsTopPaths,
    "text_top_ngrams" -> OracleSql.textTopNgrams,
    "corpus_topics" -> OracleSql.corpusTopics,
    "corpus_topics_persisted" -> OracleSql.corpusTopicsAssign,
    "text_pmi" -> OracleSql.textPmi,
    "text_ngram_lm" -> OracleSql.textNgramLm,
    "text_phrase_search" -> OracleSql.textPhraseSearch,
    "text_normalize" -> OracleSql.textNormalize,
    "q_cooccurrence" -> OracleSql.qCoOccurrence,
    "q_association_rules" -> OracleSql.qAssociationRules,
    "q_pagerank" -> OracleSql.qPagerank,
    "q_pagerank_personalized" -> OracleSql.qPagerankPersonalized,
    "events_transitions" -> OracleSql.eventsTransitions,
    "events_anomaly_robust" -> OracleSql.eventsAnomalyRobust,
    "corpus_diff" -> OracleSql.corpusDiff,
    "source_overlap" -> OracleSql.sourceOverlap,
    "text_phrase_search_persisted" -> OracleSql.textPhraseSearch,
    "text_ngram_lm_persisted" -> OracleSql.textNgramLm,
    "text_hash_embed" -> OracleSql.textHashEmbed,
    "text_knn_hash_embed" -> OracleSql.textKnnHashEmbed,
    "events_sliding" -> OracleSql.eventsSliding,
    "vec_quantize" -> OracleSql.vecQuantize,
    "ann_quantized" -> OracleSql.annQuantized,
    "ann_hamming" -> OracleSql.annHamming,
    "dedup_exact" -> OracleSql.dedupExact,
    "dedup_keep_best" -> OracleSql.dedupKeepBest,
    "dedup_minhash" -> OracleSql.dedupMinhash,
    "dedup_minhash_lsh" -> OracleSql.dedupMinhashLsh,
    "dedup_ngram_jaccard" -> OracleSql.dedupNgramJaccard,
    "dedup_simhash" -> OracleSql.dedupSimhash,
    "dedup_simhash_pairs" -> OracleSql.dedupSimhashPairs,
    "dedup_embedding" -> OracleSql.dedupEmbedding,
    "dedup_clusters" -> OracleSql.dedupClusters,
    "dedup_clusters_keep_best" -> OracleSql.dedupClustersKeepBest,
    "dedup_incremental" -> OracleSql.dedupIncremental,
    "dedup_incremental_persisted" -> OracleSql.dedupIncremental,
    "dedup_bloom" -> OracleSql.dedupBloom,
    "pipeline_clean" -> OracleSql.pipelineClean,
    "pipeline_quality_ensemble" -> OracleSql.pipelineQualityEnsemble,
    "pipeline_web" -> OracleSql.pipelineWeb,
    "dedup_embedding_lsh" -> OracleSql.dedupEmbeddingLsh,
    "cosine_topk_exact" -> OracleSql.cosineTopkExact,
    "knn_brute" -> OracleSql.knnBrute,
    "knn_classify" -> OracleSql.knnClassify,
    "knn_classify_ivf" -> OracleSql.knnClassifyIvf,
    "emb_label_centroids" -> OracleSql.embLabelCentroids,
    "emb_outliers" -> OracleSql.embLabelOutliers,
    "semantic_dedup" -> OracleSql.semanticDedup,
    "ann_ivf" -> OracleSql.annIvf,
    "ann_recall_eval" -> OracleSql.annRecallEval,
    "ann_rank_eval" -> OracleSql.annRankEval,
    "text_readability" -> OracleSql.textReadability,
    "emb_hard_negatives" -> OracleSql.embHardNegatives,
    "emb_prototype_prune" -> OracleSql.embPrototypePrune,
    "vec_project" -> OracleSql.vecProject,
    "ann_ivf_projected" -> OracleSql.annIvfProjected,
    "ann_ivf_persisted" -> OracleSql.annIvf,
    "ann_ivf_filtered" -> OracleSql.annIvfFiltered,
    "vec_norm" -> OracleSql.vecNorm,
    "lsh_signatures" -> OracleSql.lshSignatures,
    "lsh_wide_signatures" -> OracleSql.lshWideSignatures(lshWideP),
    "lsh_bucket_stats" -> OracleSql.lshBucketStats,
    "lsh_candidate_pairs" -> OracleSql.lshCandidatePairs,
    "lsh_topk" -> OracleSql.lshTopk,
    "lsh_topp_rerank" -> OracleSql.lshToppRerank,
    "ann_lsh" -> OracleSql.annLsh,
    "lsh_save_load" -> OracleSql.lshSaveLoad,
    "lsh_save_load_bucketed" -> OracleSql.lshSaveLoad,
    "lsh_delete_clear" -> OracleSql.lshDeleteClear,
    "stream_windowed_agg" -> OracleSql.streamWindowedAgg,
    "stream_sliding_agg" -> OracleSql.eventsSliding,
    "stream_dedup" -> OracleSql.streamDedup,
    "mm_binary_meta" -> OracleSql.mmBinaryMeta,
    "mm_wav_meta" -> OracleSql.mmWavMeta,
    "mm_wav_samples" -> OracleSql.mmWavSamples,
    "mm_png_meta" -> OracleSql.mmPngMeta,
    "mm_jpeg_meta" -> OracleSql.mmJpegMeta,
    "mm_bmp_meta" -> OracleSql.mmBmpMeta,
    "mm_gif_meta" -> OracleSql.mmGifMeta,
    "mm_webp_meta" -> OracleSql.mmWebpMeta,
    "mm_webp_pixels" -> OracleSql.mmWebpPixels,
    "mm_gif_pixels" -> OracleSql.mmGifPixels,
    "mm_jpeg_pixels" -> OracleSql.mmJpegPixels,
    "mm_pdf_meta" -> OracleSql.mmPdfMeta,
    "mm_jpeg_exif" -> OracleSql.mmJpegExif,
    "mm_jpeg_gps_strip" -> OracleSql.mmJpegGpsStrip,
    "mm_pdf_text" -> OracleSql.mmPdfText,
    "mm_image_dedup" -> OracleSql.mmImageDedup,
    "mm_audio_dedup" -> OracleSql.mmAudioDedup,
    "mm_mp4_meta" -> OracleSql.mmMp4Meta,
    "pipeline_multimodal" -> OracleSql.pipelineMultimodal,
    "zip_entries" -> OracleSql.zipEntries,
    "mbox_messages" -> OracleSql.mboxMessages,
    "mail_mime_parts" -> OracleSql.mailMimeParts,
    "mail_headers" -> OracleSql.mailHeaders,
    "text_subtitles" -> OracleSql.textSubtitles,
    "text_mojibake" -> OracleSql.textMojibake,
    "mm_svg_meta" -> OracleSql.mmSvgMeta,
    "mm_avif_meta" -> OracleSql.mmAvifMeta,
    "mm_bmp_pixels" -> OracleSql.mmBmpPixels,
    "mm_png_pixels" -> OracleSql.mmPngPixels,
    "mm_media_triage" -> OracleSql.mmMediaTriage,
    "mm_tiff_meta" -> OracleSql.mmTiffMeta,
    "mm_tiff_pixels" -> OracleSql.mmTiffPixels,
    "mm_mp3_meta" -> OracleSql.mmMp3Meta,
    "mm_flac_meta" -> OracleSql.mmFlacMeta,
    "mm_ogg_meta" -> OracleSql.mmOggMeta,
    "mm_mkv_meta" -> OracleSql.mmMkvMeta,
    "mm_flac_samples" -> OracleSql.mmFlacSamples,
    "mm_ogg_samples" -> OracleSql.mmOggSamples,
    "mm_gif_frames" -> OracleSql.mmGifFrames,
    "mm_avro_meta" -> OracleSql.mmAvroMeta,
    "mm_avro_records" -> OracleSql.mmAvroRecords,
    "mm_parquet_meta" -> OracleSql.mmParquetMeta,
    "mm_orc_meta" -> OracleSql.mmOrcMeta,
    "text_charset" -> OracleSql.textCharset,
    "mm_gzip_meta" -> OracleSql.mmGzipMeta,
    "mm_zstd_meta" -> OracleSql.mmZstdMeta,
    "mm_parquet_pages" -> OracleSql.mmParquetPages,
    "mm_ico_meta" -> OracleSql.mmIcoMeta,
  )
}
