package graft

import org.apache.spark.graftbridge.BuildDirs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.StarAnalytics
import graft.io.Io
import graft.ops.{Contamination, Dedup, Events, LangModel, LshIndex, Multimodal, Packer, Pq,
  Sampling, Similarity, TextStats, UrlIndex, Warc}

/** Driver contract — the engine's declared query surface.
  *
  * Naming rule: every aliased output column matches between the Spark
  * query and its DuckDB oracle (the driver sorts columns by name before
  * hashing). Numeric outputs are aligned to BIGINT/exact-cents on both
  * sides so hashes can't drift on float summation order; per-row double
  * arithmetic (same IEEE ops, same order) is kept as double.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Io.readParquet(s, s"$dir/$name.parquet")

  /** Process-lifetime memo of table row counts, keyed on the table path
    * and the digest of its file listing ([[Io.listingDigest]], the key
    * [[Io.readParquet]] checks its schema against). The ANN entries
    * derive index sizing from corpus cardinality, so the count job runs
    * once per table version per process instead of once per call — the
    * serving path then carries no sizing probe (the r10 q29 fixed cost)
    * — and a table rewritten in the same process is counted again. */
  private val tableCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, Option[String]), java.lang.Long]()
  private[graft] def countOnce(s: SparkSession, dir: String, name: String): Long = {
    val df = t(s, dir, name)
    tableCounts.computeIfAbsent((s"$dir/$name", Io.listingDigest(df)), _ => df.count())
  }

  /** A built artifact: its inputs' listing digests, its dir, the path handed out. */
  private final case class Built(inputs: Seq[Option[String]], dir: java.io.File, path: String)
  private val built = scala.collection.mutable.HashMap.empty[(String, String), Built]

  /** The one dir all built artifacts live under; Spark deletes it at JVM exit. */
  private[graft] lazy val buildRoot: java.io.File = BuildDirs.create("graft-build-once")

  /** Build-once memo for the serving entries' artifacts (ANN indexes,
    * crawl-format fixtures, token shard stores), so a call pays only
    * the probe. One entry per `(kind, dir)`, keeping the
    * [[Io.listingDigest]] of each input table `dir/<table>.parquet`:
    * while they match, the kept path is returned and nothing runs.
    * Otherwise `build` gets a fresh dir under [[buildRoot]] and returns
    * the artifact's path, and the replaced entry's dir is deleted at
    * once. So a table rewritten in the same process is served from a
    * rebuilt artifact (the [[countOnce]] rule), and a frame from an
    * earlier call that has not run yet cannot read a replaced one. A
    * failed build deletes its dir and keeps the old entry. The lock is
    * held through `build`, so each artifact is built once; it is
    * re-entrant, so a build may read another artifact
    * ([[epochStoreFor]] does). */
  private[graft] def buildOnce(s: SparkSession, kind: String, dir: String, tables: String*)(
      build: String => String): String = built.synchronized {
    val inputs = tables.map(n => Io.listingDigest(t(s, dir, n)))
    built.get((kind, dir)) match {
      case Some(b) if b.inputs == inputs => b.path
      case old =>
        val d = BuildDirs.create(kind, buildRoot.getPath)
        val path =
          try build(d.getPath) catch { case e: Throwable => BuildDirs.delete(d); throw e }
        built((kind, dir)) = Built(inputs, d, path)
        old.foreach(b => BuildDirs.delete(b.dir))
        path
    }
  }

  /** q112/q113's LSH index over q46's benchmark split. */
  private def lshIndexFor(s: SparkSession, dir: String): String =
    buildOnce(s, "lsh-index", dir, "documents") { d =>
      LshIndex.build(t(s, dir, "documents").where(col("doc_id") % 17 === 0),
        d, numHashes = 8, rowsPerBand = 2, shingleSize = 2)
      d
    }

  /** q118's IVF-PQ index — the vector twin of [[lshIndexFor]]. Sizing
    * is pinned (nlist=8, m=8, ks=16) because the oracle embeds the
    * identically trained centroids AND codebooks as literals. */
  private def ivfPqIndexFor(s: SparkSession, dir: String): String =
    buildOnce(s, "ivfpq-index", dir, "embeddings") { d =>
      Pq.buildIvfPqIndex(t(s, dir, "embeddings"), d, m = 8, ks = 16, nlist = 8)
      d
    }

  /** q122's RESIDUAL (IVFADC) index — q118's twin with
    * `residual = true`, same pinned sizing so the oracle embeds the
    * identically trained centroids and residual codebooks.
    * `refineHalf = true` additionally stores packed-binary16 refine
    * vectors beside the codes: q129 re-ranks from them, and q122/q124/
    * q127 serving over the SAME index proves vec16 rides along for
    * free (their ADC scans stay codes-only — PqSpec plan guard — and
    * their oracles are unchanged because codes are unchanged). */
  private def ivfPqResIndexFor(s: SparkSession, dir: String): String =
    buildOnce(s, "ivfpqres-index", dir, "embeddings") { d =>
      Pq.buildIvfPqIndex(t(s, dir, "embeddings"), d,
        m = 8, ks = 16, nlist = 8, residual = true, refineHalf = true)
      d
    }

  /** q125's OPQ + RESIDUAL (IVFADC+OPQ) index — q122's twin with
    * `opq = true`: codes assigned in the rotated residual space, the
    * rotation trained by the alternating Procrustes solver on the same
    * deterministic sample, so the oracle embeds the identically trained
    * centroids, rotation matrix, and rotated-residual codebooks. */
  private def ivfPqOpqIndexFor(s: SparkSession, dir: String): String =
    buildOnce(s, "ivfpqopq-index", dir, "embeddings") { d =>
      Pq.buildIvfPqIndex(t(s, dir, "embeddings"), d,
        m = 8, ks = 16, nlist = 8, residual = true, opq = true)
      d
    }

  /** q138's IMI index — kPerHalf = 4 (16 product cells), the oracle
    * embeds the identically trained half-centroid sets. */
  private def imiIndexFor(s: SparkSession, dir: String): String =
    buildOnce(s, "imi-index", dir, "embeddings") { d =>
      Similarity.buildImiIndex(t(s, dir, "embeddings"), d, kPerHalf = 4)
      d
    }

  /** q147's CORPUS-TRAINED IMI index — the q144 distributed per-half
    * trainer feeding [[Similarity.buildImiIndex]] through
    * `trainedCent`: the serving artifact whose quantizer saw every
    * corpus row (SCALE.md r15 addendum 1 measured +14 to +23 recall
    * points over the sample-trained halves at kPerHalf=128). Nothing
    * about it is sample-derived, which is what lets q147's oracle
    * re-derive the ENTIRE chain — training, assignment, routing,
    * re-rank — in DuckDB with no embedded constants. */
  private def imiCtIndexFor(s: SparkSession, dir: String): String =
    buildOnce(s, "imict-index", dir, "embeddings") { d =>
      val em = t(s, dir, "embeddings")
      val cent = Similarity.trainImiCentroidsDistributed(em, kPerHalf = 4, maxIter = 2)
      Similarity.buildImiIndex(em, d, kPerHalf = 4, trainedCent = Some(cent))
      d
    }

  /** q148's CORPUS-TRAINED Multi-D-ADC index — the distributed
    * per-half trainer feeding [[Pq.buildImiPqIndex]] through its r15
    * `trainedCent` hook: routing cells from the whole corpus, PQ
    * codebooks from the bounded sample (each quantizes a d/m-dim
    * subspace — the estimation problem the sample IS sized for). */
  private def imiPqCtIndexFor(s: SparkSession, dir: String): String =
    buildOnce(s, "imipqct-index", dir, "embeddings") { d =>
      val em = t(s, dir, "embeddings")
      val cent = Similarity.trainImiCentroidsDistributed(em, kPerHalf = 4, maxIter = 2)
      Pq.buildImiPqIndex(em, d, m = 8, ks = 16, kPerHalf = 4, trainedCent = Some(cent))
      d
    }

  /** q139's Multi-D-ADC index — IMI routing (kPerHalf = 4) over PQ
    * codes (m = 8, ks = 16); the oracle embeds the identically trained
    * half-centroid sets and codebook cube. */
  private def imiPqIndexFor(s: SparkSession, dir: String): String =
    buildOnce(s, "imipq-index", dir, "embeddings") { d =>
      Pq.buildImiPqIndex(t(s, dir, "embeddings"), d, m = 8, ks = 16, kPerHalf = 4)
      d
    }

  /** q142's RESIDUAL Multi-D-ADC index — q139's twin with
    * `residual = true`: codes assigned in the decomposed per-half
    * residual space, LUTs from the same decomposed origin. */
  private def imiPqResIndexFor(s: SparkSession, dir: String): String =
    buildOnce(s, "imipqres-index", dir, "embeddings") { d =>
      Pq.buildImiPqIndex(t(s, dir, "embeddings"), d,
        m = 8, ks = 16, kPerHalf = 4, residual = true)
      d
    }

  /** q143's OPQ + RESIDUAL Multi-D-ADC index — q142's twin with
    * `opq = true`: codes assigned in the rotated decomposed residual
    * space. */
  private def imiPqOpqIndexFor(s: SparkSession, dir: String): String =
    buildOnce(s, "imipqopq-index", dir, "embeddings") { d =>
      Pq.buildImiPqIndex(t(s, dir, "embeddings"), d,
        m = 8, ks = 16, kPerHalf = 4, residual = true, opq = true)
      d
    }

  /** q149's WET fixture: the documents table as a WET file set — the
    * crawl-format round-trip's input side. */
  private def wetFixtureFor(s: SparkSession, dir: String): String =
    buildOnce(s, "wet", dir, "documents") { d =>
      Warc.writeWet(t(s, dir, "documents"), s"$d/wet")
      s"$d/wet"
    }

  /** q150/q153/q155/q158's fixture: the q145 planted HTML pages as the
    * WET records' payloads — a raw-crawl segment whose pages need real
    * extraction. */
  private def wetHtmlFixtureFor(s: SparkSession, dir: String): String =
    buildOnce(s, "wet-html", dir, "documents") { d =>
      Warc.writeWet(t(s, dir, "documents").select(col("doc_id"), plantedHtml.as("text")),
        s"$d/wet")
      s"$d/wet"
    }

  /** The planted-marker fixtures' payloads: docs with `doc_id % 7 == 0`
    * get the WET record marker PLANTED inside `body`, so the readers
    * must carry it verbatim inside the payload. The oracles re-derive
    * every payload from the documents table. */
  private val MarkerTail = "INJECTED FRAGMENT TAIL"
  private def withPlantedMarker(body: Column): Column =
    when(col("doc_id") % 7 === 0, concat(body, lit("\n" + Warc.Marker + "\n" + MarkerTail)))
      .otherwise(body)

  /** q160/q170's fixture: the planted-marker corpus as WET. */
  private def wetMarkerFixtureFor(s: SparkSession, dir: String): String =
    buildOnce(s, "wet-marker", dir, "documents") { d =>
      Warc.writeWet(t(s, dir, "documents")
        .select(col("doc_id"), withPlantedMarker(col("text")).as("text")), s"$d/wet")
      s"$d/wet"
    }

  /** q164's fixture: the q151 planted pages written as WARC
    * `response` records, with the record marker planted INSIDE the
    * HTML body of `doc_id % 7 == 0` — the bodies round-trip verbatim. */
  private def warcRespMarkerFixtureFor(s: SparkSession, dir: String): String =
    buildOnce(s, "warc-resp-marker", dir, "documents") { d =>
      Warc.writeWarcResponses(t(s, dir, "documents")
        .select(col("doc_id"), withPlantedMarker(plantedHtml).as("html")), s"$d/warc")
      s"$d/warc"
    }

  /** q151/q157's fixture: the q145 planted pages (marker-free) as the
    * BODIES of raw WARC `response` records (HTTP status line + headers
    * + blank line + markup) — a from-scratch crawl segment, one stage
    * earlier than the q150 WET form. */
  private def warcRespFixtureFor(s: SparkSession, dir: String): String =
    buildOnce(s, "warc-resp", dir, "documents") { d =>
      Warc.writeWarcResponses(
        t(s, dir, "documents").select(col("doc_id"), plantedHtml.as("html")), s"$d/warc")
      s"$d/warc"
    }

  /** q166/q167's fixtures: the crawl's OUTBOUND half (one
    * deterministic GET request record per document) and the per-fetch
    * metadata sidecar, both Content-Length-framed. */
  private def warcReqFixtureFor(s: SparkSession, dir: String): String =
    buildOnce(s, "warc-req", dir, "documents") { d =>
      Warc.writeWarcRequests(t(s, dir, "documents").select("doc_id"), s"$d/warc")
      s"$d/warc"
    }
  private def warcMetaFixtureFor(s: SparkSession, dir: String): String =
    buildOnce(s, "warc-meta", dir, "documents") { d =>
      Warc.writeWarcMetadata(t(s, dir, "documents").select("doc_id"), s"$d/warc")
      s"$d/warc"
    }

  /** q172/q179's URL indexes: a named dump-1 URL set, derived from
    * `documents`, indexed by [[UrlIndex.build]]. */
  private def urlIndexFixtureFor(s: SparkSession, dir: String,
                                 name: String, dump1: DataFrame): String =
    buildOnce(s, s"url-index-$name", dir, "documents") { d =>
      UrlIndex.build(dump1, d, "dump1")
      d
    }

  /** q131's token shard STORE — built the way a real ingest runs: the
    * BPE model trains ONCE on the full corpus (frozen tokenizer), the
    * first 250 docs write as `batch=base`, the rest APPEND as batch
    * `b1` continuing each pack group's stream from its carry — so the
    * oracle-gated read-back exercises the append ≡ rebuild contract
    * cross-engine (the DuckDB oracle derives the REBUILD over the whole
    * corpus; the hash compare is the theorem). Sizing matches q126
    * (capacity 32, groups 8, shards 4, seed s42) so the oracle reuses
    * its derivation. */
  private def tokenShardStoreFor(s: SparkSession, dir: String): String =
    buildOnce(s, "shardstore", dir, "documents") { d =>
      val docs = t(s, dir, "documents")
      val model = LangModel.trainBpeModel(docs, nMerges = 4)
      def enc(part: DataFrame) =
        graft.ops.Checkpoints.materialize(LangModel.bpeEncodeWithModel(part, model))
      Packer.writeTokenShardStore(enc(docs.where(col("doc_id") < 250)), d,
        capacityTokens = 32, numGroups = 8, numShards = 4, seed = "s42")
      Packer.appendToTokenShardStore(enc(docs.where(col("doc_id") >= 250)), d, "b1")
      d
    }

  /** q132's EPOCH reshuffle of [[tokenShardStoreFor]]'s store under
    * seed s43 — out-of-place, no re-tokenize; the oracle is the same
    * rebuild derivation re-keyed. */
  private def epochStoreFor(s: SparkSession, dir: String): String =
    buildOnce(s, "epochstore", dir, "documents") { d =>
      Packer.reshuffleTokenShardStore(s, tokenShardStoreFor(s, dir), d, newSeed = "s43")
      d
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark)
    StarAnalytics.visitsByRegion(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * training-data extension ops). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    def q(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
      (s, dir) => { GraftSession.tune(s); f(s, dir) }

    Map(
      // ---- core relational (SURVEY.md §2.3-2.9) ----
      "q01_pricing_summary" -> q { (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("cnt"),
            sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
            sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
              .cast("long")).as("sum_disc_cents"))
      },
      "q02_revenue_filter" -> q { (s, dir) =>
        t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1995-01-01") &&
                 col("l_shipdate") < lit("1996-01-01") &&
                 col("l_discount").between(0.05, 0.07) &&
                 col("l_quantity") < 24)
          .agg(
            count(lit(1)).as("cnt"),
            sum(round(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
              .as("revenue_cents"))
      },
      "q03_orders_by_segment" -> q { (s, dir) =>
        t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer").select("c_custkey", "c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("order_cnt"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      },
      "q04_customers_no_orders" -> q { (s, dir) =>
        t(s, dir, "customer").alias("c")
          .join(t(s, dir, "orders").alias("o"),
            col("c.c_custkey") === col("o.o_custkey"), "left")
          .where(col("o.o_orderkey").isNull)
          .select(col("c.c_custkey"), col("c.c_name"))
      },
      "q05_lang_dim_join" -> q { (s, dir) =>
        import s.implicits._
        val langDim = Seq(
          ("EN", "English"), ("FR", "French"), ("ES", "Spanish"),
          ("DE", "German"), ("ZH", "Chinese")).toDF("lang_code", "lang_name")
        t(s, dir, "documents").alias("d")
          .join(broadcast(langDim).alias("l"),
            upper(col("d.lang")) === col("l.lang_code"), "left")
          .groupBy(coalesce(col("l.lang_name"), lit("Unknown")).as("lang_name"))
          .agg(count(lit(1)).as("doc_cnt"))
      },
      "q06_date_dim" -> q { (s, dir) =>
        val o = t(s, dir, "orders").select(to_date(col("o_orderdate")).as("date"))
        val l = t(s, dir, "lineitem").select(to_date(col("l_shipdate")).as("date"))
        o.distinct().union(l.distinct()).distinct()
          .select(col("date").as("date_key"),
            year(col("date")).cast("long").as("year"),
            quarter(col("date")).cast("long").as("quarter"),
            month(col("date")).cast("long").as("month"),
            dayofmonth(col("date")).cast("long").as("day"),
            weekofyear(col("date")).cast("long").as("week"))
      },
      "q07_top5_nations_monthly" -> q { (s, dir) =>
        StarAnalytics.top5NationsPerMonth(s, dir)
      },
      "q08_top5_nations_ytd" -> q { (s, dir) =>
        StarAnalytics.top5NationsYtd(s, dir)
      },
      "q09_orders_per_year" -> q { (s, dir) =>
        StarAnalytics.visitsByYear(s, dir)
      },
      "q10_orders_by_region" -> q { (s, dir) =>
        StarAnalytics.visitsByRegion(s, dir)
      },
      "q11_scalar_funcs" -> q { (s, dir) =>
        t(s, dir, "customer")
          .select(col("c_mktsegment")).distinct()
          .select(
            col("c_mktsegment"),
            initcap(lower(col("c_mktsegment"))).as("seg_title"),
            coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER"))
              .as("seg_nvl"))
      },
      "q12_sas_parse" -> q { (s, dir) =>
        import graft.parse.Parsers
        val lines = t(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("doc_id"), lit(" =  '"), col("source"), lit("'")).as("country_line"),
            concat(lit("'"), col("source"), lit("'\t=\t'"), col("lang"), lit(" '")).as("port_line"))
        lines.select(
          col("doc_id"),
          Parsers.parseCountryCode(col("country_line")).as("c_code"),
          Parsers.parseCountryName(col("country_line")).as("c_name"),
          Parsers.parsePortCode(col("port_line")).as("p_code"),
          Parsers.parsePortName(col("port_line")).as("p_name"))
      },
      "q13_sas_date" -> q { (s, dir) =>
        import graft.parse.Parsers
        t(s, dir, "orders").select(col("o_orderkey"),
          Parsers.sasDate(col("o_orderkey") % 20000).as("sas_date"))
      },
      "q14_quality_summary" -> q { (s, dir) =>
        def m(name: String, df: DataFrame, c: String) =
          df.agg(count(lit(1)).as("row_cnt"),
              (count(lit(1)) - count(col(c))).as("null_cnt"))
            .select(lit(name).as("table_name"), lit(c).as("column_name"),
              col("row_cnt"), col("null_cnt"))
        m("orders", t(s, dir, "orders"), "o_custkey")
          .unionByName(m("lineitem", t(s, dir, "lineitem"), "l_orderkey"))
          .unionByName(m("customer", t(s, dir, "customer"), "c_name"))
          .unionByName(m("documents", t(s, dir, "documents"), "text"))
      },
      // ---- training-data ops (text) ----
      "q15_text_stats" -> q { (s, dir) =>
        TextStats.statsFor(t(s, dir, "documents"))
      },
      "q16_dedup_exact" -> q { (s, dir) =>
        Dedup.exactDuplicates(t(s, dir, "documents"))
      },
      "q17_minhash_sig" -> q { (s, dir) =>
        Dedup.minHashSignatures(t(s, dir, "documents"), numHashes = 8, shingleSize = 2)
      },
      "q18_neardup_pairs" -> q { (s, dir) =>
        Dedup.nearDuplicates(t(s, dir, "documents"), numHashes = 8,
          rowsPerBand = 2, shingleSize = 2, threshold = 0.35)
      },
      "q19_simhash" -> q { (s, dir) =>
        Dedup.simHash(t(s, dir, "documents"))
      },
      // the scale-safe LSH pair path: buckets over the cap emit O(n)
      // star pairs (min-doc → member) instead of O(n²) all-pairs, so an
      // adversarially dense duplicate cluster cannot explode the
      // candidate set; component dedup downstream is unchanged
      "q52_neardup_pairs_capped" -> q { (s, dir) =>
        Dedup.candidatePairs(
          Dedup.lshBands(
            Dedup.minHashSignatures(t(s, dir, "documents"),
              numHashes = 8, shingleSize = 2),
            numHashes = 8, rowsPerBand = 2),
          maxBucketSize = Some(8))
      },
      // Gopher-style repetition filtering (top-token/bigram mass, token
      // entropy): the boilerplate/spam gate of a pretraining pipeline
      "q53_repetition_stats" -> q { (s, dir) =>
        graft.ops.QualityFilters.repetitionStats(t(s, dir, "documents"))
      },
      // fixed-capacity sequence packing by running token count within
      // deterministic hash groups (concat-then-chunk contract)
      "q54_sequence_packing" -> q { (s, dir) =>
        graft.ops.Packer.packSequences(t(s, dir, "documents"),
          capacityTokens = 256, numGroups = 8)
      },
      // per-source document cap: ≤10 docs per source, salted-hash draw
      "q55_source_cap" -> q { (s, dir) =>
        Sampling.capPerKey(t(s, dir, "documents"),
          col("source"), col("doc_id"), maxPerKey = 10)
          .select("doc_id", "source")
      },
      // corpus vocabulary: top-k terms by global count (+ doc frequency)
      // — the counting pass tokenizer training starts from
      "q58_vocabulary" -> q { (s, dir) =>
        TextStats.vocabulary(t(s, dir, "documents"), k = 100)
      },
      // per-language relative quality gate: per-lang median computed as
      // a tiny broadcast aggregate, never a window over lang partitions
      "q57_quality_gate" -> q { (s, dir) =>
        graft.ops.QualityFilters.relativeQualityGate(t(s, dir, "documents"))
      },
      // PII scrubbing over deterministically planted emails/URLs/IDs
      // (the raw corpus is synthetic word soup with no PII, so the query
      // plants one of each per row — both engines build the same text)
      "q56_pii_scrub" -> q { (s, dir) =>
        val planted = t(s, dir, "documents").select(
          col("doc_id"),
          concat(col("text"),
            lit(" contact "), col("source"), lit("@mail.example.com"),
            lit(" via https://ex.com/d/"), col("doc_id"), lit("?ref=1"),
            lit(" acct 90210"), col("doc_id"), lit("4481")).as("text"))
        graft.ops.Scrubber.scrub(planted)
      },
      // ---- training-data ops (embeddings) ----
      "q20_cosine_topk" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(em.where(col("vec_id") < 20), em, k = 5)
      },
      "q21_lsh_ann" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        Similarity.lshTopK(em.where(col("vec_id") < 20), em, k = 5)
      },
      // BASELINE, deliberately size-bounded: the all-pairs plan is O(n²)
      // in its input, so the declared query fixes n (first 500 vectors)
      // and exists only as the recall/correctness baseline that
      // q38_cosine_neardup_lsh (the scale path) is validated against.
      // Unbounded brute-force checks live in SimilaritySpec.
      // int8 embedding quantization (ANN serving storage format).
      // The operator returns the real array<int> column; the declared
      // query CSV-encodes it because the driver's oracle compare sorts
      // rows in pandas, which cannot order list-valued columns
      // (CORRECTNESS_r02 q59 lexsort failure).
      "q59_quantize_int8" -> q { (s, dir) =>
        Similarity.quantizeInt8(t(s, dir, "embeddings"))
          .select(col("vec_id"), col("scale"),
            expr("concat_ws(',', transform(q, x -> CAST(x AS STRING)))").as("q_csv"))
      },
      // CCNet-style corpus segment dedup: boilerplate segments (>=2
      // distinct docs) removed from every doc, survivors reassembled.
      "q60_segment_dedup" -> q { (s, dir) =>
        Dedup.segmentDedup(t(s, dir, "documents"))
      },
      // unigram-LM "perplexity" quality signal, corpus-trained in-query
      "q61_unigram_logprob" -> q { (s, dir) =>
        LangModel.unigramScore(t(s, dir, "documents"))
      },
      // SemDedup: k-means-cell-bounded semantic dedup over embeddings,
      // the cell count scaled with the corpus (Similarity.semDedupNlist)
      "q62_semdedup" -> q { (s, dir) =>
        Similarity.semDedup(t(s, dir, "embeddings"))
      },
      // per-source token-budget mixture sampling (two-phase bucket
      // selection; bit-identical to the per-source running-sum window)
      "q64_token_budget_mix" -> q { (s, dir) =>
        graft.ops.Mixer.tokenBudgetMix(t(s, dir, "documents"), budget = 800L)
      },
      // keep-best canonical selection: near-dup components (same LSH
      // params as q42) reduced to their longest member, min doc_id ties
      "q65_keep_best_dedup" -> q { (s, dir) =>
        Dedup.keepBestDedup(t(s, dir, "documents"),
          numHashes = 8, rowsPerBand = 2, shingleSize = 2, threshold = 0.35)
      },
      // bigram LM counts: top-50 bigrams with conditional log-prob
      // (micro-nat integers; deterministic rank order)
      "q66_bigram_lm" -> q { (s, dir) =>
        LangModel.bigramCounts(t(s, dir, "documents"))
      },
      // dedup diagnostics: duplicate-cluster size distribution over the
      // q42 component structure
      "q67_cluster_sizes" -> q { (s, dir) =>
        Dedup.clusterSizeReport(Dedup.nearDupComponents(t(s, dir, "documents"),
          numHashes = 8, rowsPerBand = 2, shingleSize = 2, threshold = 0.35))
      },
      // per-label embedding pooling (class centroids + coherence) via
      // the native vector_sum_long aggregate — one scan, one shuffle
      "q68_label_centroids" -> q { (s, dir) =>
        Similarity.labelCentroids(t(s, dir, "embeddings"))
      },
      // moment statistics the numerically-portable way: exact integer
      // power sums (order-independent in any partition order), float
      // mean/variance only as a final projection over those integers
      "q69_moment_stats" -> q { (s, dir) =>
        t(s, dir, "events")
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("c")).cast("long").as("s1"),
            sum(col("c") * col("c")).cast("long").as("s2"))
          .select(col("event_type"), col("n"), col("s1"), col("s2"),
            round(col("s1").cast("double") / col("n"), 6).as("mean_cents"),
            round((col("s2").cast("double") -
              col("s1").cast("double") * col("s1").cast("double") / col("n")) /
              col("n"), 6).as("var_cents"))
      },
      // ExactSubstr-style duplicate-span removal: overlapping k-token
      // grams shared across distinct docs are cut at any alignment
      "q72_span_dedup" -> q { (s, dir) =>
        Dedup.spanDedup(t(s, dir, "documents"), k = 5)
      },
      // ordered conversion funnel: stage relations shrink monotonically,
      // every join keys on user_id, counts are scalar aggregates
      "q73_funnel" -> q { (s, dir) =>
        Events.funnel(t(s, dir, "events"))
      },
      // weekly cohort retention matrix (growth analytics)
      "q74_retention" -> q { (s, dir) =>
        Events.retention(t(s, dir, "events"))
      },
      // dense hourly series with forward-fill (time-series gap fill)
      "q77_gap_fill" -> q { (s, dir) =>
        Events.gapFillHourly(t(s, dir, "events"))
      },
      // z-score anomaly flags from exact integer moments — the |z|>3
      // gate is a pure integer comparison, portable across engines
      "q78_anomaly_zscore" -> q { (s, dir) =>
        Events.anomalies(t(s, dir, "events"))
      },
      // count-min sketch: bounded-state frequency summary (d×w matrix,
      // map-side partials); estimates vs exact counts for the top-20
      "q75_cms_frequency" -> q { (s, dir) =>
        graft.ops.Sketches.cmsFrequency(t(s, dir, "documents"))
      },
      // fuzzy canonical-name pairs: blocking + Levenshtein over the
      // DISTINCT name relation (entity-resolution pattern)
      "q76_fuzzy_names" -> q { (s, dir) =>
        Dedup.fuzzyNamePairs(t(s, dir, "part"), "p_name")
      },
      // RefinedWeb-style duplicate-n-gram mass per document
      "q79_dup_gram_mass" -> q { (s, dir) =>
        Dedup.dupGramStats(t(s, dir, "documents"))
      },
      // corpus-trained multinomial Naive Bayes source classifier
      // (model-based filtering representative; integer micro-nats)
      "q80_nb_classify" -> q { (s, dir) =>
        LangModel.naiveBayes(t(s, dir, "documents"))
      },
      // kNN majority-vote label propagation over embeddings: the
      // unlabeled tail (vec_id >= 400, corpus-scale) takes its 5-NN
      // majority label from the labeled head. The BOUNDED labeled set
      // is the broadcast side; the unlabeled corpus streams one scan —
      // nothing unbounded is ever broadcast
      "q81_knn_label" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        Similarity.knnClassify(
          em.where(col("vec_id") >= 400), em.where(col("vec_id") < 400))
      },
      // PCA projection onto the corpus-trained top principal component
      // (one exact-integer aggregate pass + driver-side power iteration;
      // oracle generated at Verify time with the same trained literals)
      "q82_pca_project" -> q { (s, dir) =>
        Similarity.pcaProject(t(s, dir, "embeddings"))
      },
      // incremental ingestion dedup: the doc_id%3==0 shard arrives as
      // today's batch against the rest-of-corpus history; keep the
      // canonical copy of content the history has never seen
      "q83_incremental_dedup" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        Dedup.incrementalDedup(
          docs.where(col("doc_id") % 3 =!= 0),
          docs.where(col("doc_id") % 3 === 0))
      },
      // temperature-based source mixture weights (α=0.5, integer
      // micro-sqrt units so the normalizer is order-free)
      "q84_temperature_mix" -> q { (s, dir) =>
        graft.ops.Mixer.temperatureWeights(t(s, dir, "documents"))
      },
      // winsorized per-group price stats: rank-based percentile bounds
      // from a value histogram, clipping in exact cents
      "q85_winsorize" -> q { (s, dir) =>
        graft.ops.Winsorize.winsorizedStats(t(s, dir, "lineitem"),
          "l_returnflag", round(col("l_extendedprice") * 100).cast("long"))
      },
      // bucketed range join: each event equi-joined (user, time-bucket)
      // to the gap-session interval containing it — no nested-loop
      "q86_session_assign" -> q { (s, dir) =>
        graft.ops.RangeJoin.assignSessions(t(s, dir, "events"))
      },
      // one BPE merge iteration: adjacent-char pair counts over the
      // vocabulary, corpus-frequency-weighted; deterministic top-50
      "q87_bpe_pairs" -> q { (s, dir) =>
        LangModel.bpePairCounts(t(s, dir, "documents"))
      },
      // document-level co-occurrence of the top-30 vocabulary terms
      // (vocabulary pruning before pairing; one reused exchange)
      "q88_cooccurrence" -> q { (s, dir) =>
        TextStats.cooccurrence(t(s, dir, "documents"))
      },
      // integer-arithmetic PageRank (5 iterations, micro-units) over the
      // part co-purchase graph — per-edge floor division before
      // summation keeps every iteration order-free and engine-portable
      "q89_part_rank" -> q { (s, dir) =>
        graft.ops.Graph.partRank(t(s, dir, "lineitem"))
      },
      // the explicit salting path as a declared query: result must be
      // identical to the plain equi-join the oracle runs
      "q90_salted_join" -> q { (s, dir) =>
        val seg = t(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        graft.ops.Skew.saltedJoin(t(s, dir, "events"), seg,
            key = "user_id", spreadCol = "event_id", numSalts = 8)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("event_cnt"),
            sum(round(col("value") * 100).cast("long")).as("value_cents"))
      },
      // full cube over return flag × line status (rollup and grouping
      // sets are q31/q47; cube completes the trio)
      "q91_cube" -> q { (s, dir) =>
        t(s, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("cnt"),
            sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
      },
      // trailing 7-day revenue per priority: RANGE frame over the
      // pre-aggregated daily relation (the window never sees raw rows)
      "q92_rolling_range" -> q { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("d"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("day_cents"))
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("d").cast("timestamp").cast("long"))
          .rangeBetween(-6L * 86400L, 0L)
        daily.withColumn("trail7_cents", sum("day_cents").over(w))
      },
      // SCD type-2 dimension merge: customer plays the versioned dim.
      // Current snapshot = every customer open since 1992 plus a planted
      // closed-history row for every 7th key; the batch re-states every
      // 3rd key (only every 6th actually changes — the no-op update must
      // NOT version) and adds brand-new keys for every 10th.
      "q93_scd2_merge" -> q { (s, dir) =>
        val c = t(s, dir, "customer")
        val open = c.select(col("c_custkey"), col("c_mktsegment"),
          col("c_nationkey"),
          lit(java.sql.Date.valueOf("1992-01-01")).as("effective_from"),
          lit(null).cast("date").as("effective_to"),
          lit(true).as("is_current"))
        val closedHist = c.where(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"),
            concat(lit("OLD-"), col("c_mktsegment")).as("c_mktsegment"),
            col("c_nationkey"),
            lit(java.sql.Date.valueOf("1990-01-01")).as("effective_from"),
            lit(java.sql.Date.valueOf("1992-01-01")).as("effective_to"),
            lit(false).as("is_current"))
        val updates = c.where(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"),
            when(col("c_custkey") % 6 === 0, lit("MOVED"))
              .otherwise(col("c_mktsegment")).as("c_mktsegment"),
            col("c_nationkey"))
          .unionByName(c.where(col("c_custkey") % 10 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              lit("NEWSEG").as("c_mktsegment"),
              lit(99).cast(c.schema("c_nationkey").dataType).as("c_nationkey")))
        graft.ops.Scd.scd2Merge(open.unionByName(closedHist), updates,
          "c_custkey", Seq("c_mktsegment", "c_nationkey"),
          lit(java.sql.Date.valueOf("1995-06-01")))
      },
      // two chained SCD2 loads: day-2 batch merges over day-1's output
      // (re-versions a day-1 version, no-ops an unchanged restatement)
      "q105_scd2_incremental" -> q { (s, dir) =>
        val c = t(s, dir, "customer")
        val open = c.select(col("c_custkey"), col("c_mktsegment"),
          col("c_nationkey"),
          lit(java.sql.Date.valueOf("1992-01-01")).as("effective_from"),
          lit(null).cast("date").as("effective_to"),
          lit(true).as("is_current"))
        val upd1 = c.where(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"),
            when(col("c_custkey") % 6 === 0, lit("MOVED"))
              .otherwise(col("c_mktsegment")).as("c_mktsegment"),
            col("c_nationkey"))
        val day1 = graft.ops.Scd.scd2Merge(open, upd1,
          "c_custkey", Seq("c_mktsegment", "c_nationkey"),
          lit(java.sql.Date.valueOf("1995-06-01")))
        // day 2 re-states every 4th key as MOVED2 (every 12th key was
        // already versioned on day 1 → versions again)
        val upd2 = c.where(col("c_custkey") % 4 === 0)
          .select(col("c_custkey"), lit("MOVED2").as("c_mktsegment"),
            col("c_nationkey"))
        graft.ops.Scd.scd2Merge(day1, upd2,
          "c_custkey", Seq("c_mktsegment", "c_nationkey"),
          lit(java.sql.Date.valueOf("1996-01-01")))
      },
      // exact thresholded Jaccard pair join (AllPairs/PPJoin prefix
      // filter): every pair ≥ 0.7 with its TRUE similarity — the
      // no-false-negative complement of the LSH near-dup path
      "q106_set_similarity_join" -> q { (s, dir) =>
        graft.ops.SetSimilarity.setSimilarityJoin(
          t(s, dir, "documents"), thresholdPct = 70)
      },
      // deterministic weighted sampling (Efraimidis–Spirakis A-ES):
      // 20 docs per language, length-weighted, hash-derived priorities
      "q107_weighted_sample" -> q { (s, dir) =>
        Sampling.weightedSamplePerStratum(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          col("lang"), col("n_chars"), col("doc_id"), 20)
      },
      // exact thresholded set-CONTAINMENT join (one-sided prefix
      // filter): every DIRECTED pair where ≥ 80% of the doc's 3-gram
      // shingles appear in the container — the quote/subset contract
      // Jaccard misses (the union dilutes a short doc quoted in a
      // long one)
      "q108_containment_join" -> q { (s, dir) =>
        graft.ops.SetSimilarity.containmentJoin(
          t(s, dir, "documents"), thresholdPct = 80)
      },
      // ANN evaluation harness: recall@5 of the single-probe SRP-LSH
      // path against brute-force cosine truth, per query — the number
      // that justifies (or rejects) the LSH gate for a corpus
      "q109_ann_recall" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        Similarity.lshRecall(em.where(col("vec_id") < 20), em, k = 5)
      },
      // CDC changelog apply: events as the changelog (key user_id, seq
      // event_id, every 13th entry a delete) collapsed to latest state
      "q94_cdc_apply" -> q { (s, dir) =>
        val log = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("value_cents"),
            when(col("event_id") % 13 === 0, lit("D")).otherwise(lit("U"))
              .as("op"))
        graft.ops.Cdc.applyChangelog(log, Seq("user_id"),
          col("event_id"), col("op"))
      },
      // deterministic train/val/test split: hash-keyed membership, so
      // corpus growth can never migrate a doc between splits
      "q95_split_assign" -> q { (s, dir) =>
        Sampling.splitByHash(t(s, dir, "documents"), col("doc_id"),
            trainPpm = 900000L, valPpm = 50000L)
          .select("doc_id", "lang", "split")
      },
      // cross-source overlap matrix: shared shingle hashes + Jaccard per
      // source pair — the corpus-composition diagnostic
      "q96_source_overlap" -> q { (s, dir) =>
        Contamination.sourceOverlap(t(s, dir, "documents"), shingleSize = 2)
      },
      // multi-probe SRP ANN: home bucket + all Hamming-1 probes per
      // query; corpus still bucketed exactly once
      "q97_multiprobe_ann" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        Similarity.multiProbeTopK(em.where(col("vec_id") < 20), em, k = 5)
      },
      // per-source lexical-diversity profile (vocabulary growth + TTR)
      "q98_source_diversity" -> q { (s, dir) =>
        graft.ops.TextStats.diversityBySource(t(s, dir, "documents"))
      },
      // length-curriculum deciles via engine-exact integer order
      // statistics (histogram walk, not interpolated percentiles)
      "q99_curriculum_buckets" -> q { (s, dir) =>
        graft.ops.QualityFilters.curriculumBuckets(t(s, dir, "documents"))
      },
      // held-out unigram scoring: LM trained on ~4/5 of the corpus
      // scores the other 1/5, OOV reported not smoothed
      "q100_cross_perplexity" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        LangModel.crossUnigramScore(
          docs.where(col("doc_id") % 5 =!= 0),
          docs.where(col("doc_id") % 5 === 0))
      },
      // BPE merge training: 4 iterative most-frequent-pair merges over
      // the word-count vocabulary (the oracle re-derives them with
      // independently unrolled SQL — nothing embedded from this run)
      "q101_bpe_train" -> q { (s, dir) =>
        LangModel.bpeTrain(t(s, dir, "documents"), nMerges = 4)
      },
      // apply the trained BPE merges: per-doc post-BPE token counts
      // (merges apply to the vocabulary, never the corpus text)
      "q104_bpe_tokenize" -> q { (s, dir) =>
        LangModel.bpeTokenCounts(t(s, dir, "documents"), nMerges = 4)
      },
      // eval-hygiene audit: near-dup pairs whose endpoints hash into
      // different train/val/test splits (split labels are scan-local
      // expressions on the pair endpoints — no join)
      "q102_split_leakage" -> q { (s, dir) =>
        graft.ops.Curation.splitLeakage(t(s, dir, "documents"))
      },
      // dataset-card rollup: volume/length stats per source, per lang,
      // per (source, lang), and overall in ONE Expand pass
      "q103_dataset_card" -> q { (s, dir) =>
        t(s, dir, "documents").select(
            col("source"), col("lang"),
            graft.ops.TextStats.tokenCount(col("text")).cast("long").as("n_tok"),
            col("n_chars"))
          .createOrReplaceTempView("graft_card_base")
        s.sql("""SELECT source, lang, CAST(grouping_id() AS BIGINT) AS gid,
              count(*) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(min(n_chars) AS BIGINT) AS min_chars,
              CAST(max(n_chars) AS BIGINT) AS max_chars
            FROM graft_card_base
            GROUP BY GROUPING SETS ((source), (lang), (source, lang), ())""")
      },
      // deterministic global shuffle into training shards: salted-hash
      // shard + within-shard hash order (shard-parallel, nothing
      // globally sorted)
      "q71_shuffle_shards" -> q { (s, dir) =>
        Sampling.shuffleShards(t(s, dir, "documents"), col("doc_id"), 8)
          .select("doc_id", "shard", "pos")
      },
      // ranking-window suite: ntile / percent_rank / cume_dist / lag /
      // first_value over a unique (deterministic) order key
      "q70_window_suite" -> q { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("tile4"),
          round(percent_rank().over(w), 6).as("pct_rnk"),
          round(cume_dist().over(w), 6).as("cume"),
          lag("o_orderkey", 1).over(w).as("prev_key"),
          first("o_orderkey").over(w).as("first_key"))
      },
      // exact decontamination hit-list behind a Bloom pre-gate (the
      // sketch prunes before the shuffle; a verify join restores
      // exactness, so the oracle is the plain exact query)
      "q63_bloom_decontaminate" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        Contamination.bloomDecontaminate(
          docs.where(col("doc_id") % 17 =!= 0),
          docs.where(col("doc_id") % 17 === 0),
          shingleSize = 2) // DuckShingles (the shared oracle CTE) is bigrams
      },
      "q22_cosine_neardup_baseline" -> q { (s, dir) =>
        Similarity.cosineNearDuplicates(
          t(s, dir, "embeddings").where(col("vec_id") < 500), threshold = 0.4)
      },
      // ---- events ----
      "q23_events_hourly" -> q { (s, dir) =>
        Events.hourlyAgg(t(s, dir, "events"))
      },
      "q24_sessionize" -> q { (s, dir) =>
        Events.sessionize(t(s, dir, "events"))
      },
      // ---- multimodal ----
      "q25_multimodal_features" -> q { (s, dir) =>
        Multimodal.decodeFeaturesExpr(Multimodal.withPayload(t(s, dir, "documents")))
      },
      // ---- SQL surface / JSON / dedup-apply / IVF ----
      "q26_sql_surface" -> q { (s, dir) =>
        graft.sql.GraftCatalog.sql(s, dir,
          """SELECT l_orderkey, o_orderdate, o_orderpriority,
               sum(cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)) AS revenue_cents
             FROM customer JOIN orders ON c_custkey = o_custkey
                           JOIN lineitem ON l_orderkey = o_orderkey
             WHERE c_mktsegment = 'BUILDING'
               AND o_orderdate < timestamp '1995-03-15'
               AND l_shipdate > timestamp '1995-03-15'
             GROUP BY l_orderkey, o_orderdate, o_orderpriority
             ORDER BY revenue_cents DESC, o_orderdate, l_orderkey
             LIMIT 10""")
      },
      // the PACKING pipeline driven from the engine's SQL surface: the
      // q54 bin arithmetic as plain spark.sql over the registered
      // md5_lower64 native + window functions — a user who lives in
      // SQL can run the pack step without the DataFrame API (the
      // shard-store WRITES stay DataFrame-only by design: a persisted
      // artifact with carry state is not a query result). Oracle =
      // q54's, verbatim.
      "q133_sql_pack" -> q { (s, dir) =>
        graft.sql.GraftCatalog.sql(s, dir,
          """WITH c AS (
               SELECT doc_id,
                 CAST(size(CASE WHEN length(trim(text)) = 0
                                THEN CAST(array() AS array<string>)
                                ELSE split(trim(text), '\\s+') END) AS BIGINT)
                   AS n_tokens,
                 pmod(md5_lower64(concat('pack', '|', CAST(doc_id AS STRING)))
                   & 9223372036854775807, 8) AS pack_group
               FROM documents),
             o AS (
               SELECT doc_id, pack_group, n_tokens,
                 coalesce(sum(n_tokens) OVER (PARTITION BY pack_group
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   CAST(0 AS BIGINT)) AS bin_offset
               FROM c)
             SELECT doc_id, pack_group, bin_offset DIV 256 AS bin_id,
               n_tokens, bin_offset
             FROM o""")
      },
      // the native bounded-heap aggregate driven from the SQL surface:
      // top-3 orders by price per market segment
      "q41_topk_per_group" -> q { (s, dir) =>
        graft.sql.GraftCatalog.sql(s, dir,
          """SELECT c_mktsegment, nb.rnk AS rnk, nb.id AS o_orderkey,
               nb.score AS totalprice
             FROM (SELECT c_mktsegment, top_k_by_score(o_totalprice, o_orderkey, 3) AS topk
                   FROM orders JOIN customer ON o_custkey = c_custkey
                   GROUP BY c_mktsegment),
             LATERAL explode(topk) AS t(nb)""")
      },
      "q27_json_props" -> q { (s, dir) =>
        t(s, dir, "events")
          .groupBy(get_json_object(col("props"), "$.k").cast("long").as("k"))
          .agg(count(lit(1)).as("event_cnt"),
            sum(round(col("value") * 100).cast("long")).as("value_cents"))
      },
      "q28_dedup_corpus" -> q { (s, dir) =>
        Dedup.exactDedupedCorpus(t(s, dir, "documents"))
          .select("doc_id", "lang", "n_chars")
      },
      "q29_ivf_ann" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        Similarity.ivfTopK(em.where(col("vec_id") < 20), em, k = 5,
          corpusSize = countOnce(s, dir, "embeddings"))
      },
      // IMI-routed ANN serve: the product coarse quantizer (two
      // half-space NearestCells — O(√nlist·d) per corpus row where
      // flat routing is O(nlist·d); measured 111× at nlist=16384 on
      // the 1M replica), per-half top-np routing, exact re-rank
      "q138_imi_ann" -> q { (s, dir) =>
        Similarity.imiTopKIndexed(
          t(s, dir, "embeddings").where(col("vec_id") < 20),
          imiIndexFor(s, dir), k = 5, nprobe = 4)
      },
      // Multi-D-ADC: IMI product routing over PQ codes — the q138
      // routing economics on the q118 bytes-at-rest (m-byte codes,
      // candidate scan codes-only, shared ADC body)
      "q139_imi_pq_ann" -> q { (s, dir) =>
        graft.ops.Pq.imiPqTopK(
          t(s, dir, "embeddings").where(col("vec_id") < 20),
          imiPqIndexFor(s, dir), k = 5, nprobe = 4)
      },
      // filtered serving on the product-router family: the q154
      // pre-filter semi-join against q139's candidates
      "q159_imi_filtered_ann" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.imiPqTopK(em.where(col("vec_id") < 20),
          imiPqIndexFor(s, dir), k = 5, nprobe = 4,
          filter = Some(em.where(col("label") === 7).select(col("vec_id"))))
      },
      // the two-phase point serve on the product family: collected
      // routing pairs re-enter the shared ADC body with a pushed
      // cell-In — results identical to q139 by construction
      "q140_imi_pq_point" -> q { (s, dir) =>
        graft.ops.Pq.imiPqTopKPoint(
          t(s, dir, "embeddings").where(col("vec_id") < 20),
          imiPqIndexFor(s, dir), k = 5, nprobe = 4)
      },
      // thresholded near-dup serve against the IMI index — the
      // semantic-ingest-dedup history primitive on the product router
      "q141_imi_neardup" -> q { (s, dir) =>
        Similarity.imiNearDuplicates(
          t(s, dir, "embeddings").where(col("vec_id") < 20),
          imiIndexFor(s, dir), threshold = 0.4, nprobe = 4)
      },
      // residual Multi-D-ADC (IVFADC under the product router):
      // residuals decompose per half — v − concat(c1(a), c2(b)) =
      // (v1−c1(a); v2−c2(b)) — so neither encode nor serve ever
      // materializes the kPerHalf² product centroid table
      "q142_imi_pq_residual" -> q { (s, dir) =>
        graft.ops.Pq.imiPqTopK(
          t(s, dir, "embeddings").where(col("vec_id") < 20),
          imiPqResIndexFor(s, dir), k = 5, nprobe = 4)
      },
      // OPQ + residual Multi-D-ADC: the rotation trains on the
      // decomposed product residuals and slots between the origin and
      // the LUT exactly as in the flat family — the full accuracy
      // stack (product routing + residual + learned rotation)
      "q143_imi_pq_opq" -> q { (s, dir) =>
        graft.ops.Pq.imiPqTopK(
          t(s, dir, "embeddings").where(col("vec_id") < 20),
          imiPqOpqIndexFor(s, dir), k = 5, nprobe = 4)
      },
      "q30_asof_join" -> q { (s, dir) =>
        import graft.ops.AsOf
        val ev = Events.withTsNanos(t(s, dir, "events"))
          .withColumn("ts_us", expr("ts div 1000L"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts_us")
        // dedupe right side per (user, time): as-of needs a unique frontier
        val signups = ev.where(col("event_type") === "signup")
          .groupBy("user_id", "ts_us")
          .agg(max("event_id").as("signup_event_id"))
        AsOf.asofJoin(purchases, signups, Seq("user_id"), "ts_us",
          Seq("signup_event_id"))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("asof_ts_us").as("signup_ts_us"), col("asof_signup_event_id").as("signup_event_id"))
      },
      "q31_rollup" -> q { (s, dir) =>
        t(s, dir, "orders")
          .rollup(year(col("o_orderdate")).cast("long").as("order_year"),
                  col("o_orderpriority"))
          .agg(count(lit(1)).as("order_cnt"))
      },
      "q32_setops" -> q { (s, dir) =>
        val od = t(s, dir, "orders").select(to_date(col("o_orderdate")).as("d"))
        val sd = t(s, dir, "lineitem").select(to_date(col("l_shipdate")).as("d"))
        od.intersect(sd).withColumn("which", lit("both"))
          .union(od.except(sd).withColumn("which", lit("order_only")))
      },
      "q33_pivot" -> q { (s, dir) =>
        t(s, dir, "events")
          .groupBy(col("user_id"))
          .pivot("event_type", Seq("click", "purchase", "signup", "error", "view"))
          .agg(count(lit(1)))
          .na.fill(0)
      },
      "q34_percentiles" -> q { (s, dir) =>
        t(s, dir, "events")
          .withColumn("value_cents", round(col("value") * 100).cast("long"))
          .groupBy("event_type")
          .agg(
            expr("percentile(value_cents, 0.5)").as("p50_cents"),
            expr("percentile(value_cents, 0.95)").as("p95_cents"),
            min("value_cents").as("min_cents"),
            max("value_cents").as("max_cents"))
      },
      "q40_subqueries" -> q { (s, dir) =>
        graft.sql.GraftCatalog.sql(s, dir,
          """SELECT o_orderkey, o_totalprice
             FROM orders o
             WHERE EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_orderkey = o.o_orderkey
                             AND l.l_returnflag = 'R')
               AND CAST(round(o_totalprice * 100) AS BIGINT) *
                     (SELECT count(*) FROM orders) >
                   (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    FROM orders)""")
      },
      "q39_curated_corpus" -> q { (s, dir) =>
        graft.ops.Curation.curate(t(s, dir, "documents"))
      },
      "q42_neardup_components" -> q { (s, dir) =>
        Dedup.nearDupComponents(t(s, dir, "documents"),
          numHashes = 8, rowsPerBand = 2, shingleSize = 2, threshold = 0.35)
      },
      "q43_contamination" -> q { (s, dir) =>
        // every 17th doc plays the benchmark/eval set; the rest is corpus
        val docs = t(s, dir, "documents")
        Contamination.score(
          docs.where(col("doc_id") % 17 =!= 0),
          docs.where(col("doc_id") % 17 === 0),
          shingleSize = 2)
      },
      "q44_stratified_sample" -> q { (s, dir) =>
        Sampling.stratifiedSample(t(s, dir, "orders"),
          col("o_orderpriority"), col("o_orderkey"),
          Map("1-URGENT" -> 1000000L, "2-HIGH" -> 250000L, "3-MEDIUM" -> 50000L),
          defaultPpm = 10000L)
          .select("o_orderkey", "o_orderpriority")
      },
      "q45_tfidf_terms" -> q { (s, dir) =>
        graft.ops.Tfidf.topTerms(t(s, dir, "documents"), k = 5)
      },
      "q46_decontaminate" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        Dedup.crossNearDuplicates(
          docs.where(col("doc_id") % 17 =!= 0),
          docs.where(col("doc_id") % 17 === 0),
          numHashes = 8, rowsPerBand = 2, shingleSize = 2, threshold = 0.35)
      },
      // the build-once/probe-many serving shape of q46: the benchmark
      // side's bands + shingle hashes persist once (buildOnce) and the
      // corpus probes them —
      // output-identical to crossNearDuplicates by contract, so the
      // oracle is q46's SQL verbatim
      "q112_lsh_index_probe" -> q { (s, dir) =>
        val idx = lshIndexFor(s, dir)
        LshIndex.nearDuplicates(
          t(s, dir, "documents").where(col("doc_id") % 17 =!= 0),
          idx, threshold = 0.35)
          .select(col("doc_id"), col("index_doc_id").as("bench_doc_id"),
            col("jaccard"))
      },
      // the fused ingest probe as an oracle-checked surface: one batch
      // derivation yields BOTH drop reasons — docs near-duplicating the
      // indexed history ('history') and non-minimum members of
      // within-batch near-dup components ('batch'). The oracle
      // re-derives each independently: the q46 band/verify construction
      // for history, the q42 recursive-CTE closure for components.
      "q113_ingest_verdicts" -> q { (s, dir) =>
        val idx = lshIndexFor(s, dir)
        LshIndex.ingestVerdicts(
          t(s, dir, "documents").where(col("doc_id") % 17 =!= 0),
          idx, threshold = 0.35)
      },
      // product quantization ANN: trained codebooks embed in the oracle
      // as literals (the q29/q62 mechanism); the oracle re-derives
      // per-subspace codes (argmin squared-L2, ties to the lowest
      // code) and the s-ascending ADC sums independently in SQL
      "q114_pq_ann" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.topK(em.where(col("vec_id") < 20), em, k = 5,
          m = 8, ks = 16)
      },
      // the refine stage: ADC shortlist (k·refine) → exact-cosine
      // re-rank of only those ids — the oracle composes the q114 code
      // derivation with the q20-style exact cosine over the shortlist
      "q115_pq_refine" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.topKRefined(em.where(col("vec_id") < 20), em, k = 5,
          m = 8, ks = 16, refine = 4)
      },
      // DSIR importance weights: target = English docs, raw = the full
      // pool; hashed unigram+bigram features, two add-1 bucket models,
      // per-doc integer-micros log-ratio sums (order-independent)
      "q116_dsir_weights" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        graft.ops.Dsir.logWeightsWithin(docs, col("lang") === "en",
          buckets = 1024)
      },
      // the selection step over those weights: top 25% per source by
      // (logw desc, doc_id), exact ceil quotas — rank-based so the cut
      // is deterministic and every stratum keeps exactly its quota
      "q117_dsir_select" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        graft.ops.Dsir.selectTopFractionWithin(docs,
          col("lang") === "en", fractionPpm = 250000L)
      },
      // the IVF-PQ SERVING path under the oracle gate: probe a
      // persisted index (buildOnce — q118 pays only the probe); the
      // oracle re-derives cell routing, codes, and ADC
      // from the identically trained centroids + codebooks
      "q118_ivfpq_probe" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.ivfPqTopKIndexed(em.where(col("vec_id") < 20),
          ivfPqIndexFor(s, dir), k = 5, nprobe = 2)
      },
      // FILTERED ANN serving (the RAG shape: top-k WHERE label = …):
      // the metadata predicate resolves to an allowed-id relation and
      // gates the codes-only candidate scan BEFORE ranking
      // (pre-filter semantics — all k results satisfy it; recall
      // within the filtered set rides nprobe). Same q118 index; the
      // oracle is the q118 chain with the candidate CTE gated on the
      // identical predicate
      "q154_filtered_ann" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.ivfPqTopKIndexed(em.where(col("vec_id") < 20),
          ivfPqIndexFor(s, dir), k = 5, nprobe = 2,
          filter = Some(em.where(col("label") === 7).select(col("vec_id"))))
      },
      // q118 through the two-phase POINT serve: routing collected
      // (bounded |queries|·nprobe pairs), the ADC corpus scan entered
      // through a pushed `cell IN (...)` instead of the broadcast-join
      // full scan of the probed partitions — results identical by
      // construction (shared ADC body; the oracle is q118's verbatim)
      "q130_ivfpq_point_adc" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.ivfPqTopKPoint(em.where(col("vec_id") < 20),
          ivfPqIndexFor(s, dir), k = 5, nprobe = 2)
      },
      // DISTRIBUTED whole-corpus k-means: the trainer that removes the
      // driver-sample cap on nlist (at 100 TB the router wants
      // nlist ~ sqrt(n) trained on everything, not 4096 rows). Two
      // iterations here; the oracle re-derives BOTH end-to-end from
      // the parquet — possible only because each update is one
      // rounding + order-independent integer sums, the determinism
      // the operator is designed around
      "q134_kmeans_distributed" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        val cent = Similarity.trainCentroidsDistributed(em, nlist = 8,
          maxIter = 2)
        import s.implicits._
        cent.zipWithIndex.flatMap { case (c, i) =>
          c.zipWithIndex.map { case (v, d) => (i.toLong, d.toLong, v) }
        }.toSeq.toDF("cell", "d", "val")
      },
      // DISTRIBUTED per-half (product) k-means: q134's trainer without
      // its flat-assignment wall — the two half-space centroid sets of
      // an IMI router trained over the WHOLE corpus at O(kPerHalf*d)
      // per row (vs the flat O(nlist*d) = O(kPerHalf^2*d) at equal
      // cell count), both halves advancing from ONE scan per
      // iteration. Same determinism design, so the oracle re-derives
      // BOTH trainings end-to-end with no embedded constants
      "q144_imi_kmeans_distributed" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        val (c1, c2) = Similarity.trainImiCentroidsDistributed(em,
          kPerHalf = 4, maxIter = 2)
        import s.implicits._
        def rows(half: Long, cs: Array[Array[Double]]) =
          cs.zipWithIndex.flatMap { case (c, i) =>
            c.zipWithIndex.map { case (v, d) => (half, i.toLong, d.toLong, v) }
          }
        (rows(0L, c1) ++ rows(1L, c2)).toSeq.toDF("half", "cell", "d", "val")
      },
      // the q144 trainer FEEDING the q138 serve — an IMI index whose
      // half-quantizers were trained on the whole corpus by the
      // distributed trainer, then served. The oracle re-derives
      // training + corpus assignment + routing + exact re-rank
      // end-to-end from the parquet: the first SERVED-artifact oracle
      // here with zero embedded constants
      "q147_imi_corpus_trained_ann" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        Similarity.imiTopKIndexed(em.where(col("vec_id") < 20),
          imiCtIndexFor(s, dir), k = 5, nprobe = 4)
      },
      // q147's PQ-family sibling: the distributed trainer feeding
      // buildImiPqIndex via trainedCent — routing derived in the
      // oracle (the q144 chains), only the sample-trained codebook
      // cube embeds as literals
      "q148_imi_pq_corpus_trained" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.imiPqTopK(em.where(col("vec_id") < 20),
          imiPqCtIndexFor(s, dir), k = 5, nprobe = 4)
      },
      // WET crawl-format round-trip: the documents table written as a
      // WET file set (one conversion record per doc + a warcinfo
      // header record), read back through the splittable
      // Content-Length-framed reader — the file format a real
      // Common-Crawl pipeline starts from. The oracle derives the
      // expected records from the documents table directly (the
      // planting is exactly invertible), so the hash compare proves
      // the parse
      "q149_wet_roundtrip" -> q { (s, dir) =>
        graft.ops.Warc.readWet(s, wetFixtureFor(s, dir))
          .where(col("wtype") === "conversion")
          .select(col("uri"), col("warc_date"), col("payload"))
      },
      // the FULL crawl front-end in one chain: raw pages (the q145
      // planted HTML) land in a WET-framed file set, the splittable
      // reader parses records, and extraction recovers main text —
      // file → records → text, the first three stages a Common-Crawl
      // user runs, composed. Oracle = the q145 extraction chain over
      // the same planted pages (the WET round-trip is identity on
      // payloads)
      "q150_wet_extract" -> q { (s, dir) =>
        graft.ops.Warc.readWet(s, wetHtmlFixtureFor(s, dir))
          .where(col("wtype") === "conversion")
          .select(col("uri"),
            graft.ops.Extract.mainText(col("payload")).as("main_text"))
      },
      // the from-scratch crawl start: raw WARC response records (HTTP
      // status line + headers + blank line + HTML body), split at the
      // HTTP message's blank line by the reader, body fed to
      // extraction — one stage earlier than q150's WET form. Oracle =
      // the q145 chain plus the deterministic HTTP columns the fixture
      // writer plants
      "q151_warc_responses" -> q { (s, dir) =>
        graft.ops.Warc.readWarcResponses(s, warcRespFixtureFor(s, dir))
          .select(col("uri"), col("http_status"), col("content_type"),
            graft.ops.Extract.mainText(col("body")).as("main_text"))
      },
      // the URL stage a crawl runs BEFORE reading any content (CCNet
      // dedups by URL across dumps, RefinedWeb caps pages per domain):
      // planted URLs exercise every normalization rule — mixed-case
      // scheme/host, userinfo, default port (dropped), NON-default
      // port `:80` under https (KEPT — port elision is
      // scheme-relative), fragment — plus genuine cross-dump
      // duplicates (doc_id % 5 re-fetches the previous page; the
      // kept-port branch keys on the PAGE id so a re-fetch builds the
      // identical normalized URL). The oracle derives the expected
      // normalized forms ANALYTICALLY from the generative arithmetic
      // and mirrors the q55 cap rank, so the engine's normalizer is
      // checked against an independent derivation, not itself
      "q161_url_front" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        val pageId = when(col("doc_id") % 5 === 0 && col("doc_id") > 0,
          col("doc_id") - 1).otherwise(col("doc_id"))
        val url = concat(
          lit("HTTPS://"),
          when(col("doc_id") % 11 === 0, lit("crawler@")).otherwise(lit("")),
          lit("www.Site"), pageId % 17, lit(".Example.com"),
          when(pageId % 13 === 5, lit(":80"))
            .otherwise(when(col("doc_id") % 3 === 0, lit(":443"))
              .otherwise(lit(""))),
          lit("/P/"), pageId,
          when(col("doc_id") % 2 === 0, lit("#frag")).otherwise(lit("")))
        graft.ops.Urls.urlFront(docs.select(col("doc_id"), url.as("url")),
            "url", maxPerDomain = 15)
          .select("doc_id", "domain", "url_norm")
      },
      // the URL front with a PLANTED blocklist composed in (RefinedWeb
      // gates on domain blocklists before any content is read): the
      // q161 URL builder, with the site3/site8 host families blocked —
      // the oracle excludes them analytically (pid % 17 ∉ {3, 8}), so
      // the gate is checked against an independent derivation. Blocked
      // rows must also not consume cap slots (gate runs FIRST)
      "q162_url_blocklist" -> q { (s, dir) =>
        import s.implicits._
        val docs = t(s, dir, "documents")
        val pageId = when(col("doc_id") % 5 === 0 && col("doc_id") > 0,
          col("doc_id") - 1).otherwise(col("doc_id"))
        val url = concat(
          lit("HTTPS://"),
          when(col("doc_id") % 11 === 0, lit("crawler@")).otherwise(lit("")),
          lit("www.Site"), pageId % 17, lit(".Example.com"),
          when(pageId % 13 === 5, lit(":80"))
            .otherwise(when(col("doc_id") % 3 === 0, lit(":443"))
              .otherwise(lit(""))),
          lit("/P/"), pageId,
          when(col("doc_id") % 2 === 0, lit("#frag")).otherwise(lit("")))
        val blocked = Seq("site3.example.com", "site8.example.com")
          .toDF("domain")
        graft.ops.Urls.urlFront(docs.select(col("doc_id"), url.as("url")),
            "url", maxPerDomain = 15, blocklist = Some(blocked))
          .select("doc_id", "domain", "url_norm")
      },
      // per-REGISTRABLE-domain caps (RefinedWeb's actual budget rule —
      // blog.corp.com and www.corp.com share one cap; a subdomain farm
      // cannot dodge it by fanning out hosts): subdomain families
      // planted across a multi-label eTLD (.co.uk) and a plain one
      // (.com); the oracle derives the registrable label analytically
      // from the generative arithmetic and caps per THAT
      "q163_url_registrable_cap" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        val sub = when(col("doc_id") % 4 === 0, lit("www."))
          .when(col("doc_id") % 4 === 1, lit("blog."))
          .when(col("doc_id") % 4 === 2, lit("shop."))
          .otherwise(lit(""))
        val tld = when(col("doc_id") % 2 === 0, lit(".co.uk"))
          .otherwise(lit(".com"))
        val url = concat(lit("http://"), sub, lit("corp"),
          col("doc_id") % 7, tld, lit("/page/"), col("doc_id"))
        graft.ops.Urls.urlFront(docs.select(col("doc_id"), url.as("url")),
            "url", maxPerDomain = 20, capPerRegistrable = true)
          .select("doc_id", "registrable_domain", "domain", "url_norm")
      },
      // Content-Length framing (the custom splittable InputFormat):
      // payloads with the record marker PLANTED inside (doc_id % 7)
      // round-trip VERBATIM — the oracle derives every payload
      // (including the embedded marker) straight from documents
      "q160_wet_exact_framing" -> q { (s, dir) =>
        graft.ops.Warc.readWet(s, wetMarkerFixtureFor(s, dir))
          .where(col("wtype") === "conversion")
          .select(col("uri"), col("payload"))
      },
      // raw-WARC response records with the record marker PLANTED
      // inside the HTML bodies (doc_id % 7) come back verbatim, HTTP status
      // and content-type parsed off the message head — the oracle
      // derives every body (marker included) straight from documents
      "q164_warc_responses_exact" -> q { (s, dir) =>
        graft.ops.Warc.readWarcResponses(s, warcRespMarkerFixtureFor(s, dir))
          .select(col("uri"), col("http_status"), col("content_type"),
            col("body"))
      },
      // the FLAGSHIP raw-crawl-to-clean-corpus chain, all stages
      // composed: WET segment → records → HTML extraction → segment
      // (paragraph/boilerplate) dedup → exact dedup → LSH near-dup →
      // quality gate → corpus-trained bigram-LM perplexity bucketed
      // head/middle/tail. Every stage is an individually-verified
      // operator (q145/q150, q60, q39, q119); this verifies the
      // COMPOSITION, mirrored stage for stage in DuckDB CTEs from the
      // same factored generators
      "q153_ccnet_pipeline" -> q { (s, dir) =>
        val pages = graft.ops.Warc.readWet(s, wetHtmlFixtureFor(s, dir))
          .where(col("wtype") === "conversion")
          .select(regexp_extract(col("uri"), "([0-9]+)$", 1)
            .cast("long").as("doc_id"),
            col("payload").as("html"))
        graft.ops.Curation.crawlCurate(pages)
      },
      // the streaming crawl front end's per-batch computation, run as
      // its batch-backfill form over the whole fixture (the stream IS
      // this per micro-batch — CrawlIngestSpec proves stream ≡ twin;
      // this row proves the twin against an independent oracle, so the
      // streaming path is transitively oracle-checked)
      "q155_crawl_ingest_backfill" -> q { (s, dir) =>
        graft.streaming.CrawlIngest.batchTwin(s, wetHtmlFixtureFor(s, dir))
      },
      // the crawl's OUTBOUND half: WARC `request` records (ISO-28500
      // pairs every response with its request) — request line parsed
      // into method/target/protocol, header block and body surfaced;
      // the oracle derives every column from the fixture's generative
      // arithmetic
      "q166_warc_requests" -> q { (s, dir) =>
        graft.ops.Warc.readWarcRequests(s, warcReqFixtureFor(s, dir))
          .select("uri", "http_method", "target", "protocol",
            "http_headers", "body")
      },
      // the per-fetch metadata sidecar: WARC `metadata` records
      // exploded to one (uri, key, value) row per pair — the
      // SQL-friendly shape the rest of the engine joins on
      "q167_warc_metadata" -> q { (s, dir) =>
        graft.ops.Warc.readWarcMetadata(s, warcMetaFixtureFor(s, dir))
          .select("uri", "key", "value")
      },
      // the host link graph off crawled pages (anchor hrefs → target
      // domains → weighted host→host edges; self-links dropped,
      // mixed-case and www. forms canonicalized): planted anchors with
      // residue arithmetic, edges derived ANALYTICALLY in the oracle —
      // the extract+domain chain checked against an independent
      // derivation
      "q168_link_graph" -> q { (s, dir) =>
        graft.ops.Graph.hostLinkEdges(linkPages(t(s, dir, "documents")))
          .select(col("src").as("src_domain"), col("dst").as("dst_domain"),
            col("n_links"))
      },
      // the crawl-frontier prioritizer composed end to end: pages →
      // link extraction → host graph → integer-micro PageRank (the
      // CommonCrawl-style host ranking) — the oracle unrolls all 5
      // iterations in the COMPLETION form (zero-in-degree hosts keep
      // their damped base rank, exactly the engine's completion join)
      "q169_host_rank" -> q { (s, dir) =>
        graft.ops.Graph.hostRank(linkPages(t(s, dir, "documents")))
      },
      // the weighted refinement: link MULTIPLICITY as the vote weight
      // (per-edge ⌊rank·w/W⌋ in the overflow-safe exact decomposition)
      // — the oracle re-derives edge weights from the residue counts
      // and unrolls the weighted iterations in the same decomposed
      // integer arithmetic
      "q173_weighted_host_rank" -> q { (s, dir) =>
        graft.ops.Graph.weightedHostRank(linkPages(t(s, dir, "documents")))
      },
      // the COMPLETE pre-fetch stage composed into one scheduler
      // relation: blocklist (hosts 2 and 5) → robots (/a/ paths) →
      // URL dedup → per-domain cap AND politeness fetch slot in one
      // window → host-rank priority joined from the REAL q169
      // PageRank over the link fixture — every stage's verdict
      // derived analytically, the rank by the shared unrolled
      // generator
      "q177_crawl_frontier" -> q { (s, dir) =>
        import s.implicits._
        val docs = t(s, dir, "documents")
        val h = col("doc_id") % 9
        val url = concat(lit("http://host"), h, lit(".example.org"),
          when(col("doc_id") % 4 === 0, lit("/a/")).otherwise(lit("/b/")),
          col("doc_id"))
        val urls = docs.select(col("doc_id"), url.as("url"))
        val rules = graft.ops.Robots.disallowRules(
          docs.select(h.as("hh")).distinct().select(
            concat(lit("host"), col("hh"), lit(".example.org"))
              .as("domain"),
            lit("User-agent: *\nDisallow: /a/\n").as("robots_txt")))
        val blocked = Seq("host2.example.org", "host5.example.org")
          .toDF("domain")
        val ranks = graft.ops.Graph.hostRank(linkPages(docs))
        graft.ops.Urls.crawlFrontier(urls, rules, blocked, ranks,
            maxPerDomain = 30)
          .select("doc_id", "url_norm", "domain", "rank_micro",
            "fetch_slot")
      },
      // sitemap.xml parsing (the DISCOVERY side of the pre-fetch
      // stage): planted urlsets — mixed tag case, padded values, an
      // XML-entity-bearing loc, a loc-less entry (dropped) — every
      // emitted row derived analytically
      "q178_sitemap_urls" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        val d = col("doc_id") % 6
        val xml = concat(
          lit("<?xml version=\"1.0\"?><urlset><url><loc> http://s"), d,
          lit(".example.com/page/"), col("doc_id"),
          lit(" </loc><lastmod>2026-08-0"), col("doc_id") % 9 + 1,
          lit("</lastmod></url><URL><LOC>http://s"), d,
          lit(".example.com/alt/"), col("doc_id"),
          lit("?a=1&amp;b=2</LOC></URL>" +
            "<url><lastmod>loc-less, dropped</lastmod></url></urlset>"))
        graft.ops.Sitemaps.sitemapUrls(
            docs.select(col("doc_id"), xml.as("sitemap_xml")),
            keyCols = Seq("doc_id"))
          .select("doc_id", "loc", "lastmod")
      },
      // robots.txt parsing (RFC 9309 subset): planted per-domain
      // robots files — wildcard group + an every-other-domain
      // agent-specific group, consecutive-UA sharing, comments, an
      // empty (allow-all) Disallow — parsed for agent 'graftbot';
      // rules derived analytically
      "q175_robots_rules" -> q { (s, dir) =>
        val domains = t(s, dir, "documents")
          .select((col("doc_id") % 7).as("d")).distinct()
        val txt = concat(
          lit("# planted robots\nUser-agent: *\nDisallow: /p"), col("d"),
          lit("\nDisallow:\n"),
          when(col("d") % 2 === 0,
            concat(lit("User-agent: graftbot\nUser-agent: otherbot\n" +
              "Disallow: /g"), col("d"), lit("\n")))
            .otherwise(lit("")))
        graft.ops.Robots.disallowRules(
            domains.select(
              concat(lit("site"), col("d"), lit(".example.com"))
                .as("domain"),
              txt.as("robots_txt")),
            agent = "graftbot")
          .select("domain", "path_prefix")
      },
      // the politeness gate composed: planted URLs against the q175
      // rules — /p<d> paths always blocked, /g<d> paths blocked only
      // where the agent group exists (even domains), the rest kept;
      // the verdict derived analytically
      "q176_robots_gate" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        val d = col("doc_id") % 7
        val url = concat(lit("http://site"), d, lit(".example.com"),
          when(col("doc_id") % 5 === 0,
            concat(lit("/p"), d, lit("/deep")))
            .when(col("doc_id") % 5 === 1, concat(lit("/g"), d, lit("x")))
            .otherwise(concat(lit("/ok/"), col("doc_id"))))
        val domains = docs.select(d.as("d")).distinct()
        val txt = concat(
          lit("# planted robots\nUser-agent: *\nDisallow: /p"), col("d"),
          lit("\nDisallow:\n"),
          when(col("d") % 2 === 0,
            concat(lit("User-agent: graftbot\nUser-agent: otherbot\n" +
              "Disallow: /g"), col("d"), lit("\n")))
            .otherwise(lit("")))
        val rules = graft.ops.Robots.disallowRules(
          domains.select(
            concat(lit("site"), col("d"), lit(".example.com"))
              .as("domain"),
            txt.as("robots_txt")),
          agent = "graftbot")
        graft.ops.Robots.robotsGate(
            docs.select(col("doc_id"), url.as("url")), rules)
          .select("doc_id", "url")
      },
      // anchor TEXT extraction — the label the web gives a target page
      // (the classic link-analysis relevance signal): inner markup
      // stripped, entities decoded, whitespace collapsed, href/text
      // pairs positionally aligned; every column derived analytically
      "q174_anchor_text" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        val p = col("doc_id") % 13
        val html = concat(
          lit("<html><body><a href=\"http://t"), p,
          lit(".example.com/x\">Read &amp; visit <b>site "), p,
          lit("</b> now</a><p>filler</p><A CLASS=\"z\" HREF=\"https://u"),
          p, lit(".example.org/y\"> plain  label </A></body></html>"))
        graft.ops.Extract.anchors(
            docs.select(col("doc_id"), html.as("html")), srcCol = "doc_id")
          .select(col("doc_id"), col("href"), col("anchor_text"))
      },
      // the segment-set monitoring relation: the per-file INVENTORY
      // (record counts by type + payload volume) — run over the q160
      // planted-marker fixture and re-derived from documents (marker
      // tails included in the payload volume). One fixture file (its
      // src_file path is a nondeterministic temp dir) → totals
      // compared
      "q170_warc_inventory" -> q { (s, dir) =>
        graft.ops.Warc.warcInventory(s, wetMarkerFixtureFor(s, dir))
          .agg(sum("n_records").cast("long").as("n_records"),
            sum("n_conversion").cast("long").as("n_conversion"),
            sum("n_response").cast("long").as("n_response"),
            sum("n_other").cast("long").as("n_other"),
            sum("payload_chars").cast("long").as("payload_chars"))
      },
      // registrable domains from a caller-supplied suffix RELATION
      // (the full-PSL scale path — broadcast join, not the embedded
      // subset): the planted suffix 'web.zz' exists ONLY in the
      // relation, so a hit proves the join decided, not the built-in
      // list; the oracle derives every label analytically
      // the cross-dump URL index (CCNet's dump-over-dump rule): dump 1
      // (doc_id % 3 == 0, page key doc_id % 29 — coprime to 3, so the
      // index covers pages 0..28 exactly) builds the index with
      // UPPERCASE surface forms; dump 2 probes pages doc_id % 47 with
      // lowercase + fragment forms — the cross-dump match only happens
      // through the NORMALIZED key, and pages 29..46 survive at the
      // min batch id, all derived analytically
      "q172_url_index_crossdump" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        val p1 = col("doc_id") % 29
        val p2 = col("doc_id") % 47
        val d1 = docs.where(col("doc_id") % 3 === 0)
          .select(col("doc_id"),
            concat(lit("HTTP://Site"), p1, lit(".Example.com/P/"), p1)
              .as("url"))
        val d2 = docs.where(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"),
            concat(lit("http://site"), p2, lit(".example.com/P/"), p2,
              lit("#f")).as("url"))
        val idxDir = urlIndexFixtureFor(s, dir, "crossdump", d1)
        graft.ops.UrlIndex.dedupAgainst(d2, idxDir)
          .select("doc_id", "url_norm")
      },
      // the DISCOVERY front composed: sitemap urlsets yield candidate
      // URLs, the cross-dump index (pages 0..28 seen, with
      // surface-form case differences) gates them — fresh pages
      // 29..36 survive at the min discovering doc; everything
      // analytic, the index match through NORMALIZATION only
      "q179_discovery_front" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        val k = col("doc_id") % 37
        val xml = concat(lit("<urlset><url><loc> http://m"), k % 5,
          lit(".example.com/p/"), k, lit(" </loc></url></urlset>"))
        val sitemaps = docs.where(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), xml.as("sitemap_xml"))
        val kSeen = col("doc_id") % 29
        val seen = docs.where(col("doc_id") % 3 === 0)
          .select(col("doc_id"),
            concat(lit("HTTP://M"), kSeen % 5, lit(".Example.com/p/"),
              kSeen).as("url"))
        val idxDir = urlIndexFixtureFor(s, dir, "discovery", seen)
        graft.ops.UrlIndex.dedupAgainst(
            graft.ops.Sitemaps.sitemapUrls(sitemaps,
              keyCols = Seq("doc_id")),
            idxDir, urlCol = "loc")
          .select("doc_id", "url_norm")
      },
      "q171_registrable_psl" -> q { (s, dir) =>
        import s.implicits._
        val docs = t(s, dir, "documents")
        val sub = when(col("doc_id") % 3 === 0, lit("www."))
          .when(col("doc_id") % 3 === 1, lit("deep.blog."))
          .otherwise(lit(""))
        val tld = when(col("doc_id") % 2 === 0, lit(".web.zz"))
          .otherwise(lit(".com"))
        val url = concat(lit("http://"), sub, lit("corp"),
          col("doc_id") % 7, tld, lit("/page/"), col("doc_id"))
        val sfx = Seq("web.zz", "co.uk").toDF("suffix")
        graft.ops.Urls.withRegistrableDomain(
            docs.select(col("doc_id"), url.as("url")), "url", sfx)
          .select("doc_id", "registrable_domain")
      },
      // per-LANGUAGE perplexity buckets — CCNet's actual rule (a
      // Wikipedia-trained LM's absolute perplexity isn't comparable
      // across languages, so the terciles are per-language): the same
      // order-statistic machinery partitioned by lang_pred. scored is
      // materialized (the perplexityBuckets contract)
      "q156_ppl_buckets_by_lang" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        val scored = graft.ops.Checkpoints.materialize(
          LangModel.bigramInterpolatedScore(docs)
            .join(TextStats.statsFor(docs).select("doc_id", "lang_pred"),
              "doc_id"))
        LangModel.perplexityBuckets(scored,
          partitionCols = Seq("lang_pred"))
      },
      // q153 entered from the RAW-WARC front: response records
      // (HTTP-status/content-type gated, the real crawl rule) → body →
      // the same composed curation. Fixture plants the same pages, so
      // the oracle is the SAME generator — proof the two crawl entry
      // formats converge to one corpus
      "q157_warc_crawl_curate" -> q { (s, dir) =>
        val pages = graft.ops.Warc.readWarcResponses(s, warcRespFixtureFor(s, dir))
          .where(col("http_status") === 200 &&
            col("content_type").startsWith("text/html"))
          .select(regexp_extract(col("uri"), "([0-9]+)$", 1)
            .cast("long").as("doc_id"),
            col("body").as("html"))
        graft.ops.Curation.crawlCurate(pages)
      },
      // the flagship with CCNet's PER-LANGUAGE perplexity buckets
      "q158_crawl_curate_by_lang" -> q { (s, dir) =>
        val pages = graft.ops.Warc.readWet(s, wetHtmlFixtureFor(s, dir))
          .where(col("wtype") === "conversion")
          .select(regexp_extract(col("uri"), "([0-9]+)$", 1)
            .cast("long").as("doc_id"),
            col("payload").as("html"))
        graft.ops.Curation.crawlCurate(pages, perLanguageBuckets = true)
      },
      // HTML → main-text extraction (the first stage of a raw-crawl
      // pipeline): each document PLANTED into a full HTML page —
      // scripts/styles/comments, nav/heading/list boilerplate,
      // entities — then extracted back; the oracle re-derives the
      // identical regex/replace/line-filter chain in DuckDB over the
      // same planted markup
      "q145_html_extract" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        graft.ops.Extract.extract(
          docs.select(col("doc_id"), plantedHtml.as("html")))
      },
      // the extraction stage COMPOSED in front of the full curation
      // chain (exact dedup → MinHash LSH near-dup → quality gate):
      // proof the crawl stage slots into the existing pipeline — the
      // oracle is the q39 chain over the extracted relation
      "q146_extract_curate" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        // the curation chain references text many times (fingerprint,
        // 8 minhashes, shingle verify, quality stats) — materialize
        // the extracted relation ONCE or the 12-step regex chain
        // re-runs per reference (the q121 materialize lesson; measured
        // 10.2 → ~2.5 s at sf0.1). At 100 TB this is the persisted
        // extracted-corpus table between crawl and curation stages.
        val extracted = graft.ops.Checkpoints.materialize(
          docs.select(col("doc_id"),
            graft.ops.Extract.mainText(plantedHtml).as("text")))
        graft.ops.Curation.curate(extracted)
      },
      // q118 with residual (true-IVFADC) encoding: codes are the
      // displacement from each vector's cell centroid, the query LUT
      // is per probed cell over q − centroid — the oracle re-derives
      // the whole chain (routing, per-cell residuals, codes, ADC)
      // from the identically trained embedded constants
      "q122_ivfpq_residual" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.ivfPqTopKIndexed(em.where(col("vec_id") < 20),
          ivfPqResIndexFor(s, dir), k = 5, nprobe = 2)
      },
      // the REFINED residual serving path (how IVFADC actually ships:
      // codes-only ADC shortlist, then an id-join exact re-rank over
      // the raw vectors): q122's index + the q115 refine stage
      "q124_ivfpq_res_refined" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.ivfPqTopKRefined(em.where(col("vec_id") < 20),
          ivfPqResIndexFor(s, dir), k = 5, source = em,
          nprobe = 2, refine = 2)
      },
      // q124 through the POINT-SERVING path: the ADC shortlist is
      // collected (bounded) and the exact re-rank fetches ONLY those
      // ids via a pushed In filter on the raw-vector scan — the
      // request/response ANN shape (same results as the batch refine
      // by construction; the oracle is q124's, verbatim)
      "q127_ivfpq_point_refined" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.ivfPqTopKRefinedPoint(em.where(col("vec_id") < 20),
          ivfPqResIndexFor(s, dir), k = 5, source = em,
          nprobe = 2, refine = 2)
      },
      // q124 re-ranked from the index's OWN stored binary16 refine
      // vectors (the faiss IVFPQR trade) instead of the source
      // relation: same ADC shortlist (same index, same codes), but the
      // exact-cosine fetch decodes the packed halves — 2 bytes/dim
      // served entirely from the index, ~2^-11 corpus-side rounding.
      // The oracle re-derives the halves by RNE arithmetic (round_even
      // at the half quantum — validated against numpy float16 on the
      // full corpus) and re-ranks with the identical cosine chain
      "q129_ivfpq_half_refined" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.ivfPqTopKRefinedHalf(em.where(col("vec_id") < 20),
          ivfPqResIndexFor(s, dir), k = 5, nprobe = 2, refine = 2)
      },
      // q122 under an OPQ rotation (faiss "OPQ8,IVF8,PQ8x4"-style):
      // codes and LUTs live in R·(v − centroid) space; the oracle
      // re-derives the full chain — routing, per-cell residual,
      // ROTATION (literal left-assoc component sums), codes, ADC —
      // from the identically trained embedded constants
      "q125_ivfpq_opq" -> q { (s, dir) =>
        val em = t(s, dir, "embeddings")
        graft.ops.Pq.ivfPqTopKIndexed(em.where(col("vec_id") < 20),
          ivfPqOpqIndexFor(s, dir), k = 5, nprobe = 2)
      },
      // materialized token-id sequences under the corpus-trained BPE
      // merges — what a tokenized training shard stores (q101/q104
      // stop at the merge table / lengths); exploded to (doc_id, pos,
      // token_id) rows so the oracle's re-derivation hash-compares
      "q120_bpe_token_ids" -> q { (s, dir) =>
        LangModel.bpeEncode(t(s, dir, "documents"), nMerges = 4)
          .select(col("doc_id"),
            posexplode(col("token_ids")).as(Seq("pos", "token_id")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("token_id").cast("long").as("token_id"))
      },
      // the materialized training shards: every (pack_group, seq_id)
      // holds exactly one capacity-window of the group's concatenated
      // token stream — documents straddling a boundary split at token
      // level (the concat-then-chunk contract, now materialized)
      "q123_token_shards" -> q { (s, dir) =>
        // stage the encoded relation once: materializeTokenShards reads
        // it twice (token placement + the doc→bin map) and an inline
        // bpeEncode chain would otherwise derive twice (the operator's
        // documented contract; at scale `enc` IS a persisted table)
        val enc = graft.ops.Checkpoints.materialize(
          LangModel.bpeEncode(t(s, dir, "documents"), nMerges = 4))
        graft.ops.Packer.materializeTokenShards(enc,
            capacityTokens = 32, numGroups = 8)
          .select(col("pack_group"), col("seq_id"),
            posexplode(col("token_ids")).as(Seq("pos", "token_id")))
          .select(col("pack_group"), col("seq_id"),
            col("pos").cast("long").as("pos"),
            col("token_id").cast("long").as("token_id"))
      },
      // per-sequence document boundaries of the packed shards — what a
      // trainer rebuilds its block-diagonal attention mask from
      // (attention must not cross doc boundaries inside a packed
      // sequence); spans exploded to rows for the oracle compare
      "q128_doc_spans" -> q { (s, dir) =>
        val enc = graft.ops.Checkpoints.materialize(
          LangModel.bpeEncode(t(s, dir, "documents"), nMerges = 4))
        graft.ops.Packer.materializeTokenShards(enc, capacityTokens = 32,
            numGroups = 8, docSpans = true)
          .select(col("pack_group"), col("seq_id"),
            explode(col("doc_spans")).as("sp"))
          .select(col("pack_group"), col("seq_id"),
            col("sp.doc_id").as("doc_id"),
            col("sp.start").as("span_start"),
            col("sp.end").as("span_end"))
      },
      // the trainer-facing shard order: q123's materialized sequences
      // deterministically SHUFFLED into reader shards (salted-md5 key;
      // corpus order is crawl order — a sequential reader must not see
      // that curriculum). Sequence-level rows: the token contents are
      // q123's, already verified
      "q126_shuffled_shards" -> q { (s, dir) =>
        val enc = graft.ops.Checkpoints.materialize(
          LangModel.bpeEncode(t(s, dir, "documents"), nMerges = 4))
        val seqs = graft.ops.Packer.materializeTokenShards(enc,
          capacityTokens = 32, numGroups = 8)
        graft.ops.Packer.shuffleSequences(seqs, numShards = 4, seed = "s42")
          .select(col("shard"), col("shard_pos"), col("pack_group"),
            col("seq_id"), col("n_tokens"))
      },
      // the PERSISTED shard store read back through the lifecycle:
      // base write over half the corpus + a carry-continued APPEND of
      // the other half — the read-back must equal the oracle's
      // REBUILD over the whole corpus (append ≡ rebuild, here proven
      // cross-engine); shard_pos is the reader-derived in-shard order
      "q131_shard_store_append" -> q { (s, dir) =>
        graft.ops.Packer.readTokenShardStore(s, tokenShardStoreFor(s, dir),
            expectCapacity = 32, expectShards = 4)
          .select(col("shard"), col("shard_pos"), col("pack_group"),
            col("seq_id"), col("n_tokens"))
      },
      // the appended store RESHUFFLED into a new epoch (seed s43,
      // out-of-place, no re-tokenize): contents identical, arrangement
      // re-keyed — the oracle is the same rebuild under the new seed
      "q132_shard_store_epoch" -> q { (s, dir) =>
        graft.ops.Packer.readTokenShardStore(s, epochStoreFor(s, dir))
          .select(col("shard"), col("shard_pos"), col("pack_group"),
            col("seq_id"), col("n_tokens"))
      },
      // the MIXTURE epoch across two stores (the q131 appended store
      // and its q132 reshuffle — same sequence population, distinct
      // store identities): each store's sequences keep independently
      // at its weight, the kept union re-shuffles into one epoch
      // order — "40%/100% of corpus A/B per epoch" at store
      // granularity, deterministic, provenance-tagged
      "q135_shard_store_mix" -> q { (s, dir) =>
        graft.ops.Packer.readTokenShardStoreMix(s,
            Seq(tokenShardStoreFor(s, dir) -> 600000L,
              epochStoreFor(s, dir) -> 300000L),
            numShards = 4, seed = "m1")
          .select("store", "shard", "shard_pos", "pack_group", "seq_id",
            "n_tokens")
      },
      // the OVERSAMPLED mixture: store 0 at 2.4 epochs per mixture
      // epoch (two full replica passes + a 0.4 fractional pass, each
      // pass re-keyed so replicas scatter), store 1 at 0.5 — the
      // ">1 epoch of the rare high-value corpus" replication lever
      "q136_shard_store_oversample" -> q { (s, dir) =>
        graft.ops.Packer.readTokenShardStoreMix(s,
            Seq(tokenShardStoreFor(s, dir) -> 2400000L,
              epochStoreFor(s, dir) -> 500000L),
            numShards = 4, seed = "m2")
          .select("store", "pass", "shard", "shard_pos", "pack_group",
            "seq_id", "n_tokens")
      },
      // reader-side attention inputs over the stored doc_spans:
      // cu_seqlens (flash-attention varlen cumulative boundaries) and
      // position_ids (within-document positions — packed sequences
      // restart at every doc start). Both arrays exploded to labeled
      // rows so the oracle proves every element cross-engine.
      "q137_attention_inputs" -> q { (s, dir) =>
        val ai = graft.ops.Packer.attentionInputs(
          graft.ops.Packer.readTokenShardStore(s, tokenShardStoreFor(s, dir)))
        val pos = ai.select(col("pack_group"), col("seq_id"),
            posexplode(col("position_ids")).as(Seq("idx", "value")))
          .withColumn("kind", lit("pos"))
        val cu = ai.select(col("pack_group"), col("seq_id"),
            posexplode(col("cu_seqlens")).as(Seq("idx", "value")))
          .withColumn("kind", lit("cu"))
        pos.unionByName(cu)
          .select(col("kind"), col("pack_group"), col("seq_id"),
            col("idx").cast("long").as("idx"), col("value"))
      },
      // the end-to-end tokenized-shard pipeline: curate (dedup chain +
      // quality gate) → DSIR-select the top half per source against
      // the curated-English target → tokenize the selection under a
      // BPE model trained ONCE on the full corpus (the serve-many
      // artifact) → pack by BPE lengths into fixed-capacity bins
      "q121_tokenized_shards" -> q { (s, dir) =>
        val docs = t(s, dir, "documents")
        val curated = graft.ops.Curation.curate(docs)
        // the curated pool is referenced ~5× downstream (DSIR raw
        // featurize, target model, quotas, weight join, the selected-id
        // join) — structurally materialize it ONCE or the whole
        // LSH-dedup + quality chain re-executes per reference (the
        // q116/q119 ReuseExchange lesson; measured 13.9 → ~6 s at
        // sf0.1). At 100 TB this is a persisted intermediate table
        // between pipeline stages, exactly as data_preparation jobs
        // stage their curated corpus before selection.
        val pool = graft.ops.Checkpoints.materialize(
          docs.select("doc_id", "text", "source")
            .join(curated.select("doc_id", "lang_pred"), Seq("doc_id")))
        val selected = graft.ops.Dsir.selectTopFractionWithin(pool,
          col("lang_pred") === "en", fractionPpm = 500000L)
        val model = LangModel.trainBpeModel(docs, nMerges = 4)
        // the selected corpus is read twice inside bpeEncodeWithModel
        // (vocabulary segmentation + the word explode) — stage it so
        // the DSIR selection chain doesn't re-derive per reference
        val sel = graft.ops.Checkpoints.materialize(
          docs.join(selected.select("doc_id"), Seq("doc_id")))
        val enc = LangModel.bpeEncodeWithModel(sel, model)
        graft.ops.Packer.packTokenized(enc.select("doc_id", "n_tokens"),
          capacityTokens = 64, numGroups = 8)
      },
      // CCNet-style perplexity filter signal: mean negative log
      // likelihood under a self-trained Jelinek-Mercer bigram LM;
      // per-bigram micro-nats rounded once, integer sums after
      "q119_bigram_perplexity" -> q { (s, dir) =>
        LangModel.bigramInterpolatedScore(t(s, dir, "documents"))
      },
      "q51_training_samples" -> q { (s, dir) =>
        // end-to-end sample prep: curate (dedup chain + quality gate) →
        // per-language deterministic mixture sampling → chunk into
        // training windows
        val curated = graft.ops.Curation.curate(t(s, dir, "documents"))
        val sampled = Sampling.stratifiedSample(curated,
          col("lang_pred"), col("doc_id"),
          Map("en" -> 1000000L, "fr" -> 500000L), defaultPpm = 250000L,
          salt = "mix")
        graft.ops.Chunker.slidingWindows(
          t(s, dir, "documents").join(sampled.select("doc_id"), "doc_id"),
          chunkTokens = 40, stride = 30)
      },
      "q50_histogram" -> q { (s, dir) =>
        // fixed-width value histogram; both engines bucket via the same
        // IEEE double divide/floor, so results agree cross-engine; one
        // groupBy on the bucket index
        t(s, dir, "orders")
          .select((floor(col("o_totalprice").cast("double") / 25000) * 25000)
            .cast("long").as("bucket_lo"))
          .groupBy("bucket_lo")
          .agg(count(lit(1)).as("order_cnt"))
      },
      "q49_chunked" -> q { (s, dir) =>
        graft.ops.Chunker.slidingWindows(t(s, dir, "documents"),
          chunkTokens = 40, stride = 30)
      },
      "q48_profile" -> q { (s, dir) =>
        graft.quality.Profiler.profile(
          t(s, dir, "orders")
            .withColumn("o_orderdate", to_date(col("o_orderdate"))),
          Seq("o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"))
      },
      "q47_grouping_sets" -> q { (s, dir) =>
        graft.sql.GraftCatalog.sql(s, dir,
          """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
               o_orderpriority,
               count(*) AS order_cnt,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents,
               CAST(grouping_id() AS BIGINT) AS gid
             FROM orders
             GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderpriority),
                                     (year(o_orderdate), o_orderpriority))""")
      },
      "q38_cosine_neardup_lsh" -> q { (s, dir) =>
        Similarity.cosineNearDuplicatesLsh(t(s, dir, "embeddings"), threshold = 0.4)
      },
      "q36_rolling_fingerprint" -> q { (s, dir) =>
        t(s, dir, "documents").select(col("doc_id"),
          graft.functions.TextExpressions.rolling_hash_min(col("text"), 16)
            .as("fingerprint_min"))
      },
      "q37_frame_sample" -> q { (s, dir) =>
        Multimodal.frameSample(t(s, dir, "documents"))
      },
      // REAL image decode (javax.imageio) over the golden fixture bytes:
      // the engine decodes payloads at query time; the oracle reads the
      // expectations MakeImageFixtures computed with the same decoder at
      // generation time (DuckDB cannot decode an image). Corrupt
      // payloads must be dropped, not failed — the fixture plants two.
      "q110_image_decode" -> q { (s, _) =>
        Multimodal.imageFeaturesExpr(Io.readParquet(s, Multimodal.ImageFixture))
      },
      // REAL audio decode (javax.sound.sampled) — same golden-fixture
      // contract as q110, over WAV containers (MakeAudioFixtures)
      "q111_audio_decode" -> q { (s, _) =>
        Multimodal.audioFeaturesExpr(Io.readParquet(s, Multimodal.AudioFixture))
      },
      "q35_approx_distinct" -> q { (s, dir) =>
        // HLL sketch — the estimate itself is engine-specific, so the
        // declared output carries the exact count (hash-matchable) plus
        // the ±5% bound VERDICT as a boolean the oracle asserts TRUE.
        // This upgrades the old rows-only check to a green hash-match
        // without pretending DuckDB's HLL equals Spark's. The sketch is
        // sized rsd=0.015 (2^13 registers) so the asserted 5% bound is
        // a 3.3-sigma event, not the default-rsd 1-sigma coin flip — at
        // default rsd=0.05 the regenerated sf0.1 corpus genuinely
        // drifted all five groups past 5%.
        //
        // Both numbers come from ONE pass over the DEDUPED
        // (event_type, user_id) pairs: the HLL register state depends
        // only on the SET of hashed values, so sketching the deduped
        // pairs is value-identical to sketching the raw stream, and
        // count(user_id) over the pairs IS the exact distinct count —
        // count(col), not count(*): a (event_type, NULL) pair must be
        // skipped exactly as COUNT(DISTINCT user_id) and the HLL both
        // skip NULLs, or a null-carrying corpus inflates exact_users.
        // Earlier shapes were strictly worse: a mixed distinct+HLL
        // aggregate plans through an expand dragging the 16 KB buffer
        // through doubled rows (~5x), and separate aggregates need a
        // join whose inner equi-key silently dropped a null event_type
        // group. One scan, two exchanges, no join, nulls preserved.
        val pairs = t(s, dir, "events")
          .groupBy("event_type", "user_id").agg(lit(1))
        pairs.groupBy("event_type")
          .agg(count(col("user_id")).as("exact_users"),
            approx_count_distinct(col("user_id"), 0.015).as("approx"))
          .select(col("event_type"), col("exact_users"),
            (abs(col("approx").cast("double") / col("exact_users") - 1.0) <= 0.05)
              .as("within_5pct"))
      })
      // ETL over the reference's own raw inputs — every output table of
      // CapstoneEtl.build, hash-matched against DuckDB mirrors of the
      // same raw files (graft.etl.EtlQueries).
      .++(graft.etl.EtlQueries.queries.map { case (k, f) => k -> q(f) })
  }

  // -------------------------------------------------------------------
  // DuckDB oracles. Conventions to keep hashes identical to Spark:
  //  * every sum is wrapped CAST(... AS BIGINT) (DuckDB sums promote to
  //    HUGEINT), counts are BIGINT on both sides;
  //  * date-part extracts are BIGINT in DuckDB, Spark side casts to long;
  //  * money/value aggregates are exact integer cents (per-row round →
  //    BIGINT → sum), never float sums;
  //  * regexp_replace gets the 'g' flag (Spark replaces all by default).
  // -------------------------------------------------------------------

  /** DuckDB mirror of TextStats.fingerprint: md5 of the
    * punctuation-stripped, whitespace-collapsed, lowercased text. */
  private val DuckFp =
    """md5(trim(regexp_replace(regexp_replace(lower(text), '[!-/:-@\[-`{-~]', ' ', 'g'), '\s+', ' ', 'g')))"""

  /** Gap-based sessionization CTE chain (no leading WITH) — shared by
    * q24 and the q86 range-join oracle. `s` carries per-event
    * session_seq; `e` is the raw (event_id, user_id, ts_us, value). */
  private val DuckSessionCtes =
    """e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
       g AS (SELECT *,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       s AS (SELECT *,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         FROM g)"""

  /** q89 oracle: the 5 PageRank iterations unrolled as CTEs, every step
    * in the same integer micro-unit arithmetic as Graph.pageRank
    * (floor-divide per edge, then sum — order-free on both engines). */
  private lazy val DuckPageRankSql: String = {
    val iters = (1 to 5).map { i =>
      s"""r$i AS (SELECT e.dst AS node,
            CAST(150000 + (sum(r.rank // e.outdeg) * 85) // 100 AS BIGINT) AS rank
          FROM e JOIN r${i - 1} r ON e.src = r.node GROUP BY e.dst)"""
    }.mkString(",\n      ")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
      pairs AS (SELECT DISTINCT a.part AS src, b.part AS dst
                FROM li a JOIN li b ON a.okey = b.okey AND a.part <> b.part),
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM pairs GROUP BY src),
      e AS (SELECT p.src, p.dst, d.outdeg FROM pairs p JOIN deg d USING (src)),
      r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
      $iters
      SELECT node AS part_id, rank AS rank_micro FROM r5"""
  }

  /** Unrolled BPE-training oracle (q101): each merge step k picks the
    * most frequent adjacent symbol pair from vocab v(k-1) — ties
    * (count desc, then pair text; symbols are [a-z]+ fragments and
    * ' ' < 'a', so pair-string order ≡ (l, r) order) — and v(k)
    * applies it as the same space-doubling canonical replace chain as
    * [[graft.ops.LangModel.bpeTrain]] (double spaces, merge consuming
    * one boundary space per side, collapse). Fully independent
    * re-derivation: no trained artifact is embedded. */
  private lazy val DuckBpeCtes: String = {
    val rep = (v: String) =>
      s"""replace(replace(replace($v, ' ', '  '),
           ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' '), '  ', ' ')"""
    val steps = (1 to 4).map { k =>
      s"""m$k AS (
         SELECT split_part(pair, ' ', 1) AS l, split_part(pair, ' ', 2) AS r, cnt
         FROM (
           SELECT pair, CAST(sum(c) AS BIGINT) AS cnt
           FROM (
             SELECT c, unnest(list_transform(range(1, len(sym)),
               i -> sym[i] || ' ' || sym[i + 1])) AS pair
             FROM (SELECT string_split(trim(s), ' ') AS sym, c FROM v${k - 1}))
           GROUP BY pair)
         ORDER BY cnt DESC, pair LIMIT 1),
       v$k AS (
         SELECT v.w, ${rep("v.s")} AS s, v.c
         FROM v${k - 1} v, m$k m)"""
    }.mkString(",\n      ")
    s"""wc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
              FROM documents)
        WHERE length(w) >= 2 GROUP BY w),
      v0 AS (
        SELECT w, ' ' || array_to_string(list_transform(range(1, length(w) + 1),
          i -> substring(w, i, 1)), ' ') || ' ' AS s, c
        FROM wc),
      $steps"""
  }

  private lazy val DuckBpeSql: String =
    s"""WITH $DuckBpeCtes
      ${(1 to 4).map(k =>
        s"""SELECT $k AS "rank", l AS "left", r AS "right",
            l || r AS merged, cnt AS pair_count FROM m$k""")
        .mkString("\n      UNION ALL\n      ")}"""

  private lazy val DuckBpeTokenizeSql: String =
    s"""WITH $DuckBpeCtes,
      nsym AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT)
                 AS n_sym FROM v4),
      dw AS (
        SELECT doc_id, w
        FROM (SELECT doc_id,
                unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
              FROM documents)
        WHERE length(w) >= 1)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(coalesce(n_sym, 1)) AS BIGINT) AS n_bpe_tokens
      FROM dw LEFT JOIN nsym USING (w)
      GROUP BY doc_id"""

  /** q120 oracle: per-doc token-ID sequences re-derived fully — the
    * q101 unrolled-merge chain segments the vocabulary (v4), the
    * model-derived id space assigns ids (a–z = 0–25, then merged
    * symbols in rank order, first occurrence wins — mirrors
    * [[graft.ops.LangModel.BpeModel.tokenIds]]), and each doc's words
    * and symbols explode WITH POSITION so pos = row_number over
    * (wpos, spos) − 1 reproduces the engine's posexplode order.
    * 1-char words fall back to per-character symbols exactly like
    * LangModel.encodeTokens. */
  private lazy val DuckBpeTokenIdsSql: String =
    s"""WITH $DuckBpeTokenIdCtes
      SELECT doc_id, pos, token_id FROM tokid"""

  /** The q120 chain as a reusable CTE block ending in
    * `tokid(doc_id, pos, token_id)` — q123 builds the packed-shard
    * placement on top of it. */
  private lazy val DuckBpeTokenIdCtes: String = s"""$DuckBpeCtes,
      mm AS (${(1 to 4).map(k => s"SELECT $k AS mrank, l, r FROM m$k")
        .mkString("\n        UNION ALL ")}),
      ids AS (
        SELECT sym, CAST(row_number() OVER (ORDER BY mo) - 1 AS BIGINT)
          AS token_id
        FROM (SELECT sym, min(ord) AS mo FROM (
                SELECT chr(CAST(96 + i AS INT)) AS sym,
                  CAST(i - 1 AS BIGINT) AS ord
                FROM range(1, 27) t(i)
                UNION ALL
                SELECT l || r, CAST(25 + mrank AS BIGINT) FROM mm)
              GROUP BY sym)),
      seg AS (SELECT w, string_split(trim(s), ' ') AS syms FROM v4),
      dw AS (
        SELECT doc_id, u.wpos, u.w FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
            i -> {'wpos': i, 'w': ws[i]})) AS u
          FROM (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z]+'),
                    x -> length(x) >= 1) AS ws
                FROM documents))),
      toks AS (
        SELECT doc_id, wpos, u.spos, u.sym FROM (
          SELECT t.doc_id, t.wpos,
            unnest(list_transform(range(1, len(t.syms) + 1),
              i -> {'spos': i, 'sym': t.syms[i]})) AS u
          FROM (SELECT dw.doc_id, dw.wpos,
                  coalesce(seg.syms,
                    list_transform(range(1, length(dw.w) + 1),
                      i -> substring(dw.w, i, 1))) AS syms
                FROM dw LEFT JOIN seg ON seg.w = dw.w) t)),
      tokid AS (
        SELECT toks.doc_id,
          CAST(row_number() OVER (PARTITION BY toks.doc_id
            ORDER BY wpos, spos) - 1 AS BIGINT) AS pos,
          ids.token_id
        FROM toks JOIN ids USING (sym))"""

  /** q121 oracle: the composed tokenized-shard pipeline — curated pool
    * (the q39 chain), DSIR weights over it against the curated-English
    * target (the SAME generator as q116/q117, reparameterized), the
    * 50% per-source ceil-quota cut, BPE lengths of the selection under
    * merges trained on ALL documents (the q101 chain — the model
    * artifact's training corpus), and the q54 packing arithmetic over
    * those BPE lengths. */
  private lazy val DuckTokenizedShardsSql: String = s"""
      WITH curated AS ($DuckCuratedSql),
      pool AS (
        SELECT d.doc_id, d.text, d.source, c.lang_pred
        FROM documents d JOIN curated c USING (doc_id)),
      ${duckDsirCtes(src = "pool", langCol = "lang_pred",
        targetPred = "lang_pred = 'en'")},
      w AS (
        SELECT p.doc_id, p.source, CAST(coalesce(lw, 0) AS BIGINT)
          AS logw_micros
        FROM pool p LEFT JOIN sc USING (doc_id)),
      qt AS (
        SELECT source,
          CAST((CAST(count(*) AS BIGINT) * 500000 + 999999) // 1000000
            AS BIGINT) AS quota
        FROM w GROUP BY 1),
      rk AS (
        SELECT doc_id, source, logw_micros,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY logw_micros DESC, doc_id) AS BIGINT) AS kept_rank
        FROM w),
      sel AS (SELECT doc_id FROM rk JOIN qt USING (source)
              WHERE kept_rank <= quota),
      $DuckBpeCtes,
      nsym AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT)
                 AS n_sym FROM v4),
      dw AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
            x -> length(x) >= 1)) AS w
        FROM documents JOIN sel USING (doc_id)),
      bt AS (
        SELECT doc_id, CAST(sum(coalesce(n_sym, 1)) AS BIGINT) AS n_tokens
        FROM dw LEFT JOIN nsym USING (w)
        GROUP BY doc_id),
      g AS (
        SELECT doc_id, n_tokens,
          (md5_number_lower('pack|' || CAST(doc_id AS VARCHAR))
             & 9223372036854775807) % 8 AS pack_group
        FROM bt),
      o AS (
        SELECT doc_id, pack_group, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY pack_group
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS bin_offset
        FROM g)
      SELECT doc_id, CAST(pack_group AS BIGINT) AS pack_group,
        bin_offset // 64 AS bin_id, n_tokens, bin_offset
      FROM o"""

  /** DuckDB list expr: word shingles of size 2 over `text`, distinct. */
  private val DuckTokens =
    "regexp_split_to_array(trim(text), '\\s+')"
  private val DuckShingles =
    s"""(CASE WHEN length(trim(text)) = 0 OR len($DuckTokens) < 2 THEN []::VARCHAR[]
        ELSE list_distinct(list_transform(range(1, len($DuckTokens)),
             i -> array_to_string(($DuckTokens)[i:i+1], ' '))) END)"""

  /** The q54/q133 packing derivation (capacity 256, 8 hash groups) —
    * one oracle text for both: q54 runs it through the DataFrame
    * operator, q133 through the engine's own SQL surface. */
  private val DuckPackSql = s"""
      WITH g AS (
        SELECT doc_id,
          CAST(len(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                        ELSE $DuckTokens END) AS BIGINT) AS n_tokens,
          (md5_number_lower('pack|' || CAST(doc_id AS VARCHAR))
             & 9223372036854775807) % 8 AS pack_group
        FROM documents),
      o AS (
        SELECT doc_id, pack_group, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY pack_group
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS bin_offset
        FROM g)
      SELECT doc_id, CAST(pack_group AS BIGINT) AS pack_group,
        bin_offset // 256 AS bin_id, n_tokens, bin_offset
      FROM o"""

  /** Shared CTE chain for the DSIR oracles (q116, q117): featurize
    * (unigrams + NON-distinct bigrams — counts, not shingle sets),
    * md5 hash buckets, the two add-1 bucket models, and the per-doc
    * integer-micros log-ratio sums. The ln-chain is left-associated
    * exactly as the engine's column expression and rounded to micros
    * per BUCKET, so both engines aggregate identical BIGINTs. */
  private val DuckDsirCtes = duckDsirCtes()
  /** `src`/`langCol`/`targetPred` parameterize the corpus relation and
    * the target-membership predicate so the SAME generator serves the
    * plain-documents oracles (q116/q117 — defaults, byte-identical
    * text) and the composed-pipeline oracle (q121 — a curated pool CTE
    * with lang_pred). ONE generator for the load-bearing weight
    * arithmetic, never a hand-copied variant. */
  private def duckDsirCtes(src: String = "documents",
                           langCol: String = "lang",
                           targetPred: String = "lang = 'en'"): String = s"""fa AS (
        SELECT doc_id, $langCol, unnest(list_concat(
          CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE $DuckTokens END,
          CASE WHEN length(trim(text)) = 0 OR len($DuckTokens) < 2
               THEN []::VARCHAR[]
               ELSE list_transform(range(1, len($DuckTokens)),
                 i -> array_to_string(($DuckTokens)[i:i+1], ' ')) END)) AS f
        FROM $src),
      fb AS (
        SELECT doc_id, $langCol,
          (md5_number_lower(f) & 9223372036854775807) % 1024 AS bucket
        FROM fa),
      tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tcnt
             FROM fb WHERE $targetPred GROUP BY 1),
      rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rcnt
             FROM fb GROUP BY 1),
      tot AS (SELECT
          CAST(coalesce((SELECT sum(tcnt) FROM tc), 0) AS BIGINT) AS tt,
          CAST(coalesce((SELECT sum(rcnt) FROM rc), 0) AS BIGINT) AS rt),
      df AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS k
             FROM fb GROUP BY 1, 2),
      sc AS (
        SELECT doc_id,
          CAST(sum(k) AS BIGINT) AS n_feats,
          CAST(sum(k * CAST(round((ln(coalesce(tcnt, 0) + 1)
            - ln(tt + 1024) - ln(coalesce(rcnt, 0) + 1)
            + ln(rt + 1024)) * 1e6) AS BIGINT)) AS BIGINT) AS lw
        FROM df LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
        CROSS JOIN tot
        GROUP BY 1)"""

  /** SRP bucket expression for the q38 oracle: the exact hyperplane
    * constants from Similarity.planeComponent embedded as double
    * literals, with the same left-associated accumulation order as the
    * Spark expression — so the sign bits (and thus buckets) agree
    * bit-for-bit. */
  private def duckSrpBucket(vecExpr: String, dim: Int = 64, planes: Int = 4): String =
    (0 until planes).map { p =>
      val proj = (0 until dim)
        .map(d => s"$vecExpr[${d + 1}] * ${graft.ops.Similarity.planeComponent(p, d)}")
        .mkString(" + ")
      s"(CASE WHEN ($proj) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  /** Shingles → signatures → LSH `bands(doc_id, band_id, h)` CTE chain
    * (no leading WITH) — shared by the near-dup pipeline and the capped
    * q52 variant. */
  private lazy val DuckBandsCtes = s"""sh AS (SELECT doc_id, $DuckShingles AS shingles FROM documents),
      sigs AS (
        SELECT doc_id,
          ${(0 until 8).map(duckMh).mkString(",\n          ")}
        FROM sh WHERE len(shingles) > 0),
      bands AS (
        SELECT doc_id, 0 AS band_id, md5(mh0 || '|' || mh1) AS h FROM sigs UNION ALL
        SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sigs UNION ALL
        SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sigs UNION ALL
        SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sigs)"""

  /** Shared CTE chain (no leading WITH) of the MinHash-LSH near-dup
    * pipeline: bands → candidate pairs → hash-set Jaccard
    * `verified(doc_a, doc_b, inter, uni)`. q18 filters it to pairs; q42
    * closes it transitively into components. */
  private lazy val DuckNearDupCtes = s"""$DuckBandsCtes,
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id),
      hs AS (
        SELECT doc_id,
          list_distinct(list_transform(shingles, x -> md5_number_lower(x))) AS h
        FROM sh),
      verified AS (
        SELECT p.doc_a, p.doc_b,
          len(list_filter(sa.h, x -> list_contains(sb.h, x))) AS inter,
          len(sa.h) + len(sb.h)
            - len(list_filter(sa.h, x -> list_contains(sb.h, x))) AS uni
        FROM pairs p
        JOIN hs sa ON sa.doc_id = p.doc_a
        JOIN hs sb ON sb.doc_id = p.doc_b)"""

  /** Minhash_i over a `shingles` list column for the DuckDB oracles —
    * integer-arithmetic twin of TextExpressions.ShingleMinHash
    * (Kirsch-Mitzenmacher over one md5 per shingle):
    * hash_i(s) = (md5_number_upper(s) + i·md5_number_lower(s)) mod 2^31-1,
    * each operand pre-reduced mod 2^31-1 to stay inside UBIGINT. */
  private def duckMh(i: Int): String =
    s"list_min(list_transform(shingles, s -> CAST((md5_number_upper(s) % 2147483647 + " +
      s"$i * (md5_number_lower(s) % 2147483647)) % 2147483647 AS BIGINT))) AS mh$i"

  /** Full per-document text-stats oracle (the DuckDB twin of
    * TextStats.statsFor) over `table` — q15 verbatim; q57 reuses it as
    * the stats subquery under its per-language quantile gate. */
  private def oracleSqlTextStats(table: String): String = s"""
      WITH ${duckTextStatsCtes(table)}
      SELECT * FROM ts_out"""

  /** [[graft.ops.TextStats.statsFor]] over a parameterized corpus
    * relation `src(doc_id, text)`, ending in `ts_out(doc_id, n_chars,
    * n_tokens, …, quality_score, lang_pred, fingerprint)` — factored
    * (the duckDsirCtes rule) so q15's oracle and the q155 composed
    * backfill chain run the IDENTICAL scoring. */
  private def duckTextStatsCtes(src: String): String = s"""ts_base AS (
        SELECT doc_id, text,
          CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE $DuckTokens END AS toks
        FROM $src),
      ts_stats AS (
        SELECT doc_id, text, toks,
          len(toks) AS n_toks,
          len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is'))) AS n_stops,
          len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS n_punct_i,
          len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS s_en,
          len(list_filter(toks, x -> x IN ('le','la','et','est'))) AS s_fr,
          len(list_filter(toks, x -> x IN ('el','la','y','es'))) AS s_es,
          len(list_filter(toks, x -> x IN ('der','die','und','ist'))) AS s_de
        FROM ts_base),
      ts_out AS (
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(n_toks AS BIGINT) AS n_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]{1,6}|[0-9]|[!-/:-@\\[-`{-~]')) AS BIGINT) AS n_subwords,
        CAST(n_punct_i AS BIGINT) AS n_punct,
        round(CASE WHEN n_toks = 0 THEN 0.0 ELSE CAST(n_stops AS DOUBLE) / n_toks END, 4) AS stopword_ratio,
        round(CASE WHEN n_toks = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / n_toks END, 4) AS mean_token_len,
        round((CASE WHEN length(text) BETWEEN 100 AND 10000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) +
              (CASE WHEN CAST(n_punct_i AS DOUBLE) <= length(text) * 0.1 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) +
              (CASE WHEN (CASE WHEN n_toks = 0 THEN 0.0 ELSE CAST(n_stops AS DOUBLE) / n_toks END)
                    BETWEEN 0.01 AND 0.6 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 1) AS quality_score,
        CASE
            WHEN s_en > 0 AND s_en >= greatest(s_en, s_fr, s_es, s_de) THEN 'en'
            WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
            WHEN s_es > 0 AND s_es >= greatest(s_en, s_fr, s_es, s_de) THEN 'es'
            WHEN s_de > 0 AND s_de >= greatest(s_en, s_fr, s_es, s_de) THEN 'de'
            ELSE 'und' END AS lang_pred,
        md5(trim(regexp_replace(regexp_replace(lower(text), '[!-/:-@\\[-`{-~]', ' ', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
      FROM ts_stats)"""

  /** Normalized-content md5 (shared by q15/q16/q28/q39 oracles). */
  private val DuckFingerprint =
    """md5(trim(regexp_replace(regexp_replace(lower(text), '[!-/:-@\[-`{-~]', ' ', 'g'), '\s+', ' ', 'g')))"""

  /** The q145/q146 planted page: each document's text wrapped in a
    * full HTML page with everything the extractor must handle —
    * script (with `<` and `&` inside code), style, a comment,
    * short-line nav/heading/list boilerplate, and entities whose
    * decode order matters. Fragments are SINGLE-SOURCED: the Spark
    * concat and the DuckDB `||` chain interpolate the same four
    * constants (no single quotes in them, so they embed in SQL
    * literals verbatim). */
  private val HtmlPre = "<html><head><title>Doc "
  private val HtmlMid1 = "</title><style type=\"text/css\">body { margin: 0; " +
    "font-size: 12px; }</style><script type=\"text/javascript\">if (a < b) " +
    "{ alert(\"x&y\"); }</script></head><body><!-- header boilerplate -->" +
    "<div class=\"nav\">Home</div><h1>Doc "
  private val HtmlMid2 = "</h1><p>"
  private val HtmlPost = "</p><ul><li>About</li><li>Contact</li></ul>" +
    "<footer>Served by Example&nbsp;&amp;&nbsp;Sons &#39;est&#39; 2026 " +
    "&lt;footer&gt; B&#97;y &#8217;curly&#8217; &amp;#66; " +
    // r16 entity-surface extension: hex + high code points + the named
    // set + every stay-literal class (surrogate, beyond-Unicode, DEL,
    // malformed hex, unknown name) — each decode class the expression
    // and the oracle must agree on, planted in every page
    "&#x27;hex&#x27; caf&eacute; &mdash; r&#xE9;sum&#233; dash&ndash;ed " +
    "&ldquo;q&rdquo; &copy;2026 &Eacute;tat 3&frac12;&deg; " +
    "bad: &#xD800; &#1114112; &#x; &unknown; &#127; end" +
    "</footer></body></html>"

  /** q168/q169's fixture pages: each document becomes a page on host
    * `host(doc_id % 9).example.org` carrying two anchors — one
    * mixed-case to host `(doc_id + 1) % 9`, one `www.`-prefixed to
    * host `(2·doc_id + 3) % 9` (a self-link when doc_id ≡ 6 mod 9 —
    * exercising the self-loop drop). Residue arithmetic keeps the
    * expected edge set analytically derivable. */
  private def linkPages(docs: DataFrame): DataFrame = {
    val src = concat(lit("host"), col("doc_id") % 9, lit(".example.org"))
    val html = concat(
      lit("<html><body><p>page "), col("doc_id"),
      lit("</p><a class=\"x\" href=\"http://Host"), (col("doc_id") + 1) % 9,
      lit(".Example.org/a/"), col("doc_id"),
      lit("\">n</a><A HREF=\"https://www.host"),
      (col("doc_id") * 2 + 3) % 9,
      lit(".example.org/b?x="), col("doc_id"),
      lit("#f\">m</A></body></html>"))
    docs.select(src.as("src_domain"), html.as("html"))
  }

  /** The planted page as a Spark column over `doc_id`/`text`. */
  private def plantedHtml: Column =
    concat(lit(HtmlPre), col("doc_id").cast("string"), lit(HtmlMid1),
      col("doc_id").cast("string"), lit(HtmlMid2), col("text"), lit(HtmlPost))

  /** q169/q177 oracle core: the distinct residue host edges (the
    * [[linkPages]] arithmetic) + 5 completion-form PageRank
    * iterations; exposes `r5(node, rank)`. */
  private lazy val DuckHostRankCtes: String = {
    val iters = (1 to 5).map { i =>
      s"""r$i AS (SELECT n.node,
            CAST(150000 + (coalesce(c.in_sum, 0) * 85) // 100 AS BIGINT)
              AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank // e.outdeg) AS in_sum
            FROM e JOIN r${i - 1} r ON e.src = r.node
            GROUP BY e.dst) c USING (node))"""
    }.mkString(",\n      ")
    s"""hd AS (SELECT DISTINCT doc_id % 9 AS s FROM documents),
      pairs AS (
        SELECT s AS src, (s + 1) % 9 AS dst FROM hd
        UNION
        SELECT s, (2 * s + 3) % 9 FROM hd WHERE (2 * s + 3) % 9 <> s),
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
              FROM pairs GROUP BY src),
      e AS (SELECT p.src, p.dst, g.outdeg FROM pairs p JOIN deg g USING (src)),
      nodes AS (SELECT src AS node FROM pairs UNION SELECT dst FROM pairs),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
      $iters"""
  }

  /** The crawl-ingest twin oracle (q155): extraction over the WET payloads
    * (identity on the planted pages), the q15 stats generator over
    * the extracted relation, the quality gate, text joined back.
    * doc_id is the record URI (the stream's natural key). */
  private lazy val duckCrawlIngestSql = s"""
      WITH extracted AS MATERIALIZED (
        SELECT 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
          ${duckExtractExpr(DuckPlantedHtml)} AS text
        FROM documents),
      pages AS (SELECT doc_id, text FROM extracted WHERE length(text) > 0),
      ${duckTextStatsCtes("pages")}
      SELECT p.doc_id, p.text, t.n_tokens, t.quality_score, t.lang_pred
      FROM ts_out t JOIN pages p USING (doc_id)
      WHERE t.quality_score >= 0.7"""

  /** The planted page as a DuckDB expression over the same columns. */
  private val DuckPlantedHtml =
    s"'$HtmlPre' || CAST(doc_id AS VARCHAR) || '$HtmlMid1' || " +
      s"CAST(doc_id AS VARCHAR) || '$HtmlMid2' || text || '$HtmlPost'"

  /** [[graft.ops.Extract.mainText]] mirrored in DuckDB over `htmlExpr`
    * — the same pattern constants interpolated (they contain no single
    * quotes), regexp_replace with the 'g' flag where Spark's replaces
    * globally by default, and the line filter as
    * list_transform/list_filter over a chr(10) split. The entity
    * stage mirrors [[graft.functions.EntityExpressions]]'s three-pass
    * contract: named replaces generated from the SAME `Named` Seq,
    * then the numeric split-on-`&#` reassembly (decimal AND hex forms,
    * full valid-code-point range — `validCodePoint`'s exact constants,
    * with DuckDB's code-point-native chr() behind the lazy CASE
    * guard), then `&amp;` LAST. */
  private def duckExtractExpr(htmlExpr: String): String = {
    import graft.ops.Extract._
    import graft.functions.EntityExpressions.HtmlEntities
    val s1 = s"regexp_replace($htmlExpr, '$ScriptPat', '', 'g')"
    val s2 = s"regexp_replace($s1, '$StylePat', '', 'g')"
    val s3 = s"regexp_replace($s2, '$CommentPat', '', 'g')"
    val s4 = s"regexp_replace($s3, '$BlockTagPat', chr(10), 'g')"
    val s5 = s"regexp_replace($s4, '$TagPat', '', 'g')"
    val named = HtmlEntities.Named.foldLeft(s5) { case (e, (name, rep)) =>
      val r = rep.replace("'", "''")
      s"replace($e, '&$name;', '$r')"
    }
    // HtmlEntities.validCodePoint over a bound code expression
    def valid(code: String) =
      s"""($code BETWEEN 32 AND 126 OR ($code BETWEEN 160 AND 1114111
          AND NOT $code BETWEEN 55296 AND 57343))"""
    val dec = "CAST(regexp_extract(seg, '^([0-9]{1,7});', 1) AS INT)"
    val hex =
      "CAST('0x' || regexp_extract(seg, '^[xX]([0-9a-fA-F]{1,6});', 1) AS INT)"
    def segCase = s"""CASE
        WHEN regexp_matches(seg, '^[0-9]{1,7};') AND ${valid(dec)}
        THEN chr($dec) || regexp_replace(seg, '^[0-9]{1,7};', '')
        WHEN regexp_matches(seg, '^[xX][0-9a-fA-F]{1,6};') AND ${valid(hex)}
        THEN chr($hex) || regexp_replace(seg, '^[xX][0-9a-fA-F]{1,6};', '')
        ELSE '&#' || seg END"""
    val numeric = s"""(list_extract(string_split($named, '&#'), 1) ||
      array_to_string(list_transform(string_split($named, '&#')[2:],
        seg -> $segCase), ''))"""
    val (ampEnt, ampRep) = HtmlEntities.Amp
    val s6 = s"replace($numeric, '$ampEnt', '$ampRep')"
    val s7 = s"regexp_replace($s6, '[ \\t\\r]+', ' ', 'g')"
    s"""array_to_string(
        list_filter(list_transform(string_split($s7, chr(10)), x -> trim(x)),
          x -> length(x) > 0 AND len(string_split(x, ' ')) >= 3
            AND regexp_matches(x, '[A-Za-z]')), chr(10))"""
  }

  private lazy val DuckCuratedSql = s"""
      WITH ${duckCuratedCtes("documents")}
      SELECT doc_id, n_chars, n_tokens, quality_score, lang_pred
      FROM scored WHERE quality_score >= 0.7"""

  /** The q39 curation chain's CTE list over a parameterized corpus
    * relation `src(doc_id, text)` — factored so the q146 composed
    * oracle runs the IDENTICAL chain over the extracted relation (one
    * generator for the load-bearing dedup/quality arithmetic, never a
    * hand-copied variant — the duckDsirCtes rule). */
  private def duckCuratedCtes(src: String): String = s"""keep AS (
        SELECT min(doc_id) AS doc_id FROM $src GROUP BY $DuckFingerprint),
      sh AS (SELECT d.doc_id, $DuckShingles AS shingles
             FROM $src d JOIN keep USING (doc_id)),
      sigs AS (
        SELECT doc_id,
          ${(0 until 8).map(duckMh).mkString(", ")}
        FROM sh WHERE len(shingles) > 0),
      bands AS (
        SELECT doc_id, 0 AS band_id, md5(mh0 || '|' || mh1) AS h FROM sigs UNION ALL
        SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sigs UNION ALL
        SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sigs UNION ALL
        SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sigs),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id),
      verified AS (
        SELECT p.doc_b,
          len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS inter,
          len(sa.shingles) + len(sb.shingles)
            - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS uni
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.doc_a
        JOIN sh sb ON sb.doc_id = p.doc_b),
      losers AS (
        SELECT DISTINCT doc_b AS doc_id FROM verified
        WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35),
      surviving AS (
        SELECT k.doc_id FROM keep k LEFT JOIN losers l ON k.doc_id = l.doc_id
        WHERE l.doc_id IS NULL),
      base AS (
        SELECT d.doc_id, d.text,
          CASE WHEN length(trim(d.text)) = 0 THEN []::VARCHAR[]
               ELSE regexp_split_to_array(trim(d.text), '\\s+') END AS toks
        FROM $src d JOIN surviving s ON d.doc_id = s.doc_id),
      stats AS (
        SELECT doc_id, text, toks,
          len(toks) AS n_toks,
          len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is'))) AS n_stops,
          len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS n_punct_i,
          len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS s_en,
          len(list_filter(toks, x -> x IN ('le','la','et','est'))) AS s_fr,
          len(list_filter(toks, x -> x IN ('el','la','y','es'))) AS s_es,
          len(list_filter(toks, x -> x IN ('der','die','und','ist'))) AS s_de
        FROM base),
      scored AS (
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(n_toks AS BIGINT) AS n_tokens,
          round((CASE WHEN length(text) BETWEEN 100 AND 10000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) +
                (CASE WHEN CAST(n_punct_i AS DOUBLE) <= length(text) * 0.1 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) +
                (CASE WHEN (CASE WHEN n_toks = 0 THEN 0.0 ELSE CAST(n_stops AS DOUBLE) / n_toks END)
                      BETWEEN 0.01 AND 0.6 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 1) AS quality_score,
          CASE
            WHEN s_en > 0 AND s_en >= greatest(s_en, s_fr, s_es, s_de) THEN 'en'
            WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
            WHEN s_es > 0 AND s_es >= greatest(s_en, s_fr, s_es, s_de) THEN 'es'
            WHEN s_de > 0 AND s_de >= greatest(s_en, s_fr, s_es, s_de) THEN 'de'
            ELSE 'und' END AS lang_pred
        FROM stats)"""

  /** q29 oracle, generated at Verify-dump time (it depends on the data):
    * trains the SAME centroids ivfTopK trains — deterministic lowest-id
    * sample, same Lloyd iterations — embeds them and their norms as
    * double literals, and mirrors cell assignment → nprobe probing →
    * exact re-rank in DuckDB. Assignment/probe cosines are written as
    * explicit left-associated component sums so the argmax sees the
    * bit-identical doubles the native NearestCell / CosineSimilarity
    * loops produce; the final re-rank score is rounded to 4 decimals
    * like every other similarity oracle. */
  /** [[graft.ops.Dedup.segmentDedup]]'s chain over a parameterized
    * corpus relation `src(doc_id, text)`, ending in
    * `sd_out(doc_id, clean_text, kept_segments, removed_segments)` —
    * factored (the duckDsirCtes rule: one generator for the
    * load-bearing arithmetic) so the q60 oracle and the q153 composed
    * chain run the IDENTICAL segmentation. `sd_`-prefixed CTE names
    * coexist with the curated/bigram generators in one WITH. */
  private def duckSegDedupCtes(src: String): String = s"""sd_w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
      sd_seg AS (
        SELECT doc_id,
          unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS seg_pos,
          unnest(list_transform(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT)),
            i -> array_to_string(ws[CAST(i * 10 + 1 AS INT) : CAST(i * 10 + 10 AS INT)], ' '))) AS segment
        FROM sd_w),
      sd_common AS (
        SELECT segment FROM (
          SELECT segment, count(DISTINCT doc_id) AS df FROM sd_seg GROUP BY 1)
        WHERE df >= 2),
      sd_flagged AS (
        SELECT s.doc_id, s.seg_pos, s.segment, (c.segment IS NOT NULL) AS dup
        FROM sd_seg s LEFT JOIN sd_common c ON s.segment = c.segment),
      sd_out AS (
        SELECT doc_id,
          coalesce(string_agg(segment, ' ' ORDER BY seg_pos) FILTER (WHERE NOT dup), '') AS clean_text,
          CAST(count(*) FILTER (WHERE NOT dup) AS BIGINT) AS kept_segments,
          CAST(count(*) FILTER (WHERE dup) AS BIGINT) AS removed_segments
        FROM sd_flagged GROUP BY doc_id)"""

  /** [[graft.ops.LangModel.bigramInterpolatedScore]] (λ = 0.7) over a
    * parameterized corpus relation `src(doc_id, text)`, ending in
    * `bp_score(doc_id, n_bigrams, avg_nlp_micros)` — the q119 chain
    * factored for composition (same single-generator rule). */
  private def duckBigramPplCtes(src: String): String = s"""bp_toks AS (
        SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE $DuckTokens END AS ts
        FROM $src),
      bp_db AS (
        SELECT doc_id, ts[g] AS w1, ts[g + 1] AS w2
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS g
              FROM bp_toks WHERE len(ts) >= 2)),
      bp_bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
                FROM bp_db GROUP BY 1, 2),
      bp_ctx AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1l FROM bp_bc GROUP BY 1),
      bp_uni AS (SELECT u AS w2, CAST(count(*) AS BIGINT) AS c1r
                 FROM (SELECT unnest(ts) AS u FROM bp_toks) GROUP BY 1),
      bp_tot AS (SELECT CAST(coalesce(sum(c1r), 0) AS BIGINT) AS t FROM bp_uni),
      bp_pn AS (
        SELECT w1, w2,
          CAST(round(ln(${0.7} * (CAST(c2 AS DOUBLE) / c1l)
            + ${1.0 - 0.7} * (CAST(c1r AS DOUBLE) / t)) * -1e6) AS BIGINT)
            AS nlp_micros
        FROM bp_bc JOIN bp_ctx USING (w1) JOIN bp_uni USING (w2) CROSS JOIN bp_tot),
      bp_sc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS nb,
          CAST(sum(nlp_micros) AS BIGINT) AS sm
        FROM bp_db JOIN bp_pn USING (w1, w2) GROUP BY 1),
      bp_score AS (
        SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
          CAST(sm // nullif(nb, 0) AS BIGINT) AS avg_nlp_micros
        FROM $src d LEFT JOIN bp_sc USING (doc_id))"""

  /** The q153/q157/q158 composed-chain oracle: extraction, segment
    * dedup, curation, bigram LM, and bucket generators composed —
    * `extracted`/`cleaned` MATERIALIZED (the q148 CTE-inlining lesson:
    * each feeds several downstream chains, and inlining re-runs the
    * whole extraction per reference). `perLanguage` switches the
    * bucket generator to per-lang_pred cutoffs over the stats-joined
    * scores (the engine's `crawlCurate(perLanguageBuckets = true)`). */
  private def duckCrawlCurateSql(perLanguage: Boolean): String = {
    val bucketCtes =
      if (!perLanguage) duckPplBucketCtes("bp_score")
      else s"""${duckTextStatsCtes("cleaned")},
        blang AS (
          SELECT s.doc_id, s.avg_nlp_micros, t.lang_pred
          FROM bp_score s JOIN ts_out t USING (doc_id)),
        ${duckPplBucketCtes("blang", Seq("lang_pred"))}"""
    s"""
      WITH extracted AS MATERIALIZED (
        SELECT doc_id, ${duckExtractExpr(DuckPlantedHtml)} AS text
        FROM documents),
      ${duckSegDedupCtes("extracted")},
      cleaned AS MATERIALIZED (
        SELECT doc_id, clean_text AS text FROM sd_out
        WHERE length(clean_text) > 0),
      ${duckCuratedCtes("cleaned")},
      ${duckBigramPplCtes("cleaned")},
      $bucketCtes
      SELECT s.doc_id, s.n_tokens, s.quality_score, s.lang_pred,
        b.avg_nlp_micros, b.ppl_bucket
      FROM scored s LEFT JOIN pb_bucket b USING (doc_id)
      WHERE s.quality_score >= 0.7"""
  }

  /** [[graft.ops.LangModel.perplexityBuckets]] over a scored relation
    * `scoreRel(doc_id, …, avg_nlp_micros)`, ending in
    * `pb_bucket(doc_id, avg_nlp_micros, ppl_bucket)`: tercile cutoff
    * ranks ceil(i·N/3) located on the distinct-score running count —
    * exact integer arithmetic end to end, the engine's scale-honest
    * order-statistic mirrored. */
  private def duckPplBucketCtes(scoreRel: String,
                                partitionCols: Seq[String] = Nil): String = {
    val p = partitionCols.mkString(", ")
    val pComma = if (partitionCols.isEmpty) "" else s"$p, "
    val histKeys = (partitionCols.indices.map(i => s"${i + 1}") :+
      s"${partitionCols.size + 1}").mkString(", ")
    val cumPart =
      if (partitionCols.isEmpty) "" else s"PARTITION BY $p "
    val totSel =
      if (partitionCols.isEmpty) "" else s"$p, "
    val totGroup =
      if (partitionCols.isEmpty) "" else s"GROUP BY $p"
    val cutsJoin =
      if (partitionCols.isEmpty) "CROSS JOIN pb_tot"
      else s"JOIN pb_tot USING ($p)"
    val cutsGroup =
      if (partitionCols.isEmpty) "" else s"GROUP BY $p"
    val bucketJoin =
      if (partitionCols.isEmpty) "CROSS JOIN pb_cuts"
      else s"LEFT JOIN pb_cuts USING ($p)"
    s"""pb_hist AS (
        SELECT ${pComma}avg_nlp_micros AS v, CAST(count(*) AS BIGINT) AS c
        FROM $scoreRel WHERE avg_nlp_micros IS NOT NULL GROUP BY $histKeys),
      pb_cum AS (
        SELECT ${pComma}v,
          CAST(sum(c) OVER (${cumPart}ORDER BY v) AS BIGINT) AS cum
        FROM pb_hist),
      pb_tot AS (SELECT ${totSel}CAST(count(*) AS BIGINT) AS n
                 FROM $scoreRel WHERE avg_nlp_micros IS NOT NULL $totGroup),
      pb_cuts AS (
        SELECT ${pComma}min(CASE WHEN cum >= (n + 2) // 3 THEN v END) AS cut1,
               min(CASE WHEN cum >= (2 * n + 2) // 3 THEN v END) AS cut2
        FROM pb_cum $cutsJoin $cutsGroup),
      pb_bucket AS (
        SELECT doc_id, ${pComma}avg_nlp_micros,
          CASE WHEN avg_nlp_micros IS NULL THEN 'na'
               WHEN avg_nlp_micros <= cut1 THEN 'head'
               WHEN avg_nlp_micros <= cut2 THEN 'middle'
               ELSE 'tail' END AS ppl_bucket
        FROM $scoreRel $bucketJoin)"""
  }

  /** Shared CTE block for centroid-based oracles (q29, q62): cosine of
    * every vector against every trained centroid, then argmax cell
    * assignment — component sums written left-associated so the doubles
    * are bit-identical to the native NearestCell loop. */
  /** `prefix` renames the emitted CTEs (`<p>v0/<p>v/<p>cellcos/
    * <p>cells`) so the block can coexist with other generated chains
    * in one WITH (q118 composes it with [[duckPqCtes]], whose `v`
    * would otherwise collide) — ONE generator for the load-bearing
    * routing arithmetic, never a hand-copied variant. */
  /** `off` shifts every element reference by off positions — the
    * q138 IMI oracle assigns each HALF of the vector against its own
    * centroid set (off = 0 for the first half, d/2 for the second);
    * `nv` is then the slice's norm, exactly [[graft.ops.Similarity
    * .cosine]] on the sliced column. */
  private def duckCellAssignCtes(cent: Array[Array[Double]],
                                 prefix: String = "",
                                 off: Int = 0): String = {
    val p = prefix
    val norms = cent.map(c => math.sqrt(c.map(x => x * x).sum))
    val dim = cent.head.length
    val selfDot = (0 until dim)
      .map(d => s"e[${off + d + 1}]*e[${off + d + 1}]").mkString(" + ")
    val cellBranches = cent.zipWithIndex.map { case (c, i) =>
      val dotE = c.zipWithIndex
        .map { case (w, d) => s"e[${off + d + 1}]*$w" }.mkString(" + ")
      s"""SELECT vec_id, e, $i AS cell,
            (CASE WHEN ${norms(i)} = 0.0 OR nv = 0.0 THEN 0.0
                  ELSE ($dotE) / (${norms(i)} * nv) END) AS cos
          FROM ${p}v"""
    }.mkString("\n        UNION ALL ")
    s"""${p}v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      ${p}v AS (SELECT vec_id, e, sqrt($selfDot) AS nv FROM ${p}v0),
      ${p}cellcos AS ($cellBranches),
      ${p}cells AS (
        SELECT vec_id, e, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM ${p}cellcos) WHERE rn = 1)"""
  }

  def ivfOracleSql(spark: SparkSession, sfDir: String): String = {
    val emb = Io.readParquet(spark, s"$sfDir/embeddings.parquet")
    // identical corpus-scaled cluster count as the query side (nlist=0
    // default in ivfTopK) — the cell partition shapes the probed set,
    // so both engines must derive the same nlist from the same corpus
    val cent = graft.ops.Similarity.trainedCentroids(
      emb, nlist = graft.ops.Similarity.ivfNlistFor(emb.count()))
    s"""
      WITH ${duckCellAssignCtes(cent)},
      assigned AS (SELECT vec_id AS neighbor_id, e AS cv, cell FROM cells),
      probed AS (
        SELECT vec_id AS query_id, e AS qv, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM cellcos WHERE vec_id < 20) WHERE rn <= 4),
      scored AS (
        SELECT query_id, neighbor_id,
          list_dot_product(qv, cv) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        FROM probed p JOIN assigned a USING (cell)
        WHERE query_id <> neighbor_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(sim, 4) AS cos_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS rnk FROM scored)
      WHERE rnk <= 5"""
  }

  /** q138 oracle, generated like q29's: the two half-space centroid
    * sets embed as literals (trained identically to the query side's
    * memoized index — same bounded sample, same Lloyd's per half),
    * corpus cells re-derived as the PRODUCT of the per-half argmaxes,
    * routing as per-half top-np then top-nprobe pairs by summed half
    * cosines ((s1+s2) DESC ≡ Spark's ((−s1)+(−s2)) ASC — IEEE negation
    * is exact and symmetric, so the orders agree bit-for-bit), exact
    * cosine re-rank over the probed cells. */
  def imiOracleSql(spark: SparkSession, sfDir: String): String = {
    val emb = Io.readParquet(spark, s"$sfDir/embeddings.parquet")
    val (c1, c2) = graft.ops.Similarity.trainedImiCentroids(emb, kPerHalf = 4)
    val kk = c1.length
    val h = c1.head.length
    val np = math.min(4, kk)
    s"""
      WITH ${duckCellAssignCtes(c1, "a")},
      ${duckCellAssignCtes(c2, "b", off = h)},
      assigned AS (
        SELECT a.vec_id AS neighbor_id, a.e AS cv,
               a.cell * $kk + b.cell AS cell
        FROM acells a JOIN bcells b ON a.vec_id = b.vec_id),
      t1 AS (SELECT vec_id AS query_id, e AS qv, cell AS h1, cos AS s1 FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM acellcos WHERE vec_id < 20) WHERE rn <= $np),
      t2 AS (SELECT vec_id AS query_id, cell AS h2, cos AS s2 FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM bcellcos WHERE vec_id < 20) WHERE rn <= $np),
      probed AS (SELECT query_id, qv, cell FROM (
          SELECT t1.query_id, t1.qv, t1.h1 * $kk + t2.h2 AS cell,
            row_number() OVER (PARTITION BY t1.query_id
              ORDER BY (t1.s1 + t2.s2) DESC, t1.h1 * $kk + t2.h2) AS rn
          FROM t1 JOIN t2 ON t1.query_id = t2.query_id) WHERE rn <= 4),
      scored AS (
        SELECT query_id, neighbor_id,
          list_dot_product(qv, cv) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        FROM probed p JOIN assigned a USING (cell)
        WHERE query_id <> neighbor_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(sim, 4) AS cos_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS rnk FROM scored)
      WHERE rnk <= 5"""
  }

  /** q139 oracle (Multi-D-ADC): the q118 ADC chain with the q138 IMI
    * routing — corpus cells = the product of the per-half argmaxes,
    * query routing = per-half top-np then top-nprobe pairs by summed
    * half-cosines, ADC over the probed cells' codes against the
    * trained-codebook LUTs. All constants (half-centroid sets,
    * codebook cube) embed as the identical Scala-printed doubles. */
  def imiPqOracleSql(spark: SparkSession, sfDir: String): String =
    imiPqOracleSqlImpl(spark, sfDir, candidateFilter = None)

  /** q159: the q139 chain with the candidate scan GATED on the allowed
    * ids — the q154 pre-filter semantics on the product-router family
    * (same predicate, same pre-ranking semi-join site). */
  def imiPqFilteredOracleSql(spark: SparkSession, sfDir: String): String =
    imiPqOracleSqlImpl(spark, sfDir, candidateFilter =
      Some("a.neighbor_id IN (SELECT vec_id FROM embeddings WHERE label = 7)"))

  private def imiPqOracleSqlImpl(spark: SparkSession, sfDir: String,
                                 candidateFilter: Option[String]): String = {
    val emb = Io.readParquet(spark, s"$sfDir/embeddings.parquet")
    val (c1, c2) = graft.ops.Similarity.trainedImiCentroids(emb, kPerHalf = 4)
    val cb = graft.ops.Pq.trainCodebooks(emb, m = 8, ks = 16)
    val kk = c1.length
    val h = c1.head.length
    val np = math.min(4, kk)
    val m = cb.length
    val adcJoins = (1 until m).map { s =>
      s"JOIN ql l$s ON l$s.query_id = l0.query_id AND l$s.s = $s AND l$s.j = n.c$s"
    }.mkString("\n        ")
    val adcSum = (0 until m).map(s => s"l$s.dist").mkString(" + ")
    s"""
      WITH ${duckPqCtes(cb)},
      ${duckCellAssignCtes(c1, "a")},
      ${duckCellAssignCtes(c2, "b", off = h)},
      assigned AS (
        SELECT a.vec_id AS neighbor_id, a.cell * $kk + b.cell AS cell
        FROM acells a JOIN bcells b ON a.vec_id = b.vec_id),
      t1 AS (SELECT vec_id AS query_id, cell AS h1, cos AS s1 FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM acellcos WHERE vec_id < 20) WHERE rn <= $np),
      t2 AS (SELECT vec_id AS query_id, cell AS h2, cos AS s2 FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM bcellcos WHERE vec_id < 20) WHERE rn <= $np),
      probed AS (SELECT query_id, cell FROM (
          SELECT t1.query_id, t1.h1 * $kk + t2.h2 AS cell,
            row_number() OVER (PARTITION BY t1.query_id
              ORDER BY (t1.s1 + t2.s2) DESC, t1.h1 * $kk + t2.h2) AS rn
          FROM t1 JOIN t2 ON t1.query_id = t2.query_id) WHERE rn <= 4),
      adc AS (
        SELECT p.query_id, a.neighbor_id, $adcSum AS adist
        FROM probed p
        JOIN assigned a USING (cell)
        JOIN n ON n.neighbor_id = a.neighbor_id
        JOIN ql l0 ON l0.query_id = p.query_id AND l0.s = 0 AND l0.j = n.c0
        $adcJoins
        WHERE p.query_id <> a.neighbor_id
          ${candidateFilter.map(f => s"AND $f").getOrElse("")})
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(adist, 4) AS adc_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adist, neighbor_id) AS rnk FROM adc)
      WHERE rnk <= 5"""
  }

  /** q142 oracle (residual Multi-D-ADC): the q122 residual chain under
    * the product router — corpus cells and residuals decompose per
    * half (v − concat(c1(a), c2(b)) = (v1 − c1(a); v2 − c2(b)) —
    * element-wise, so the concat of per-half subtractions the Spark
    * side computes is bit-identical to the full-vector subtraction
    * against the concatenated centroid this SQL writes out), codebooks
    * residual-trained, per-(query, probed-cell) LUTs from the same
    * decomposed origin. The kPerHalf² product centroid table exists
    * ONLY here as literals (kPerHalf = 4 → 16 rows) — the engine side
    * never materializes it. MATERIALIZED hints as in the q122 chain
    * (ql is referenced m times; DuckDB's default inlining replicates
    * the whole residual expression tree per copy). */
  def imiPqResidualOracleSql(spark: SparkSession, sfDir: String): String =
    imiPqResidualOracle(spark, sfDir, opq = false)

  /** q143 oracle: the q142 chain with the OPQ rotation layer — corpus
    * codes derive from R·(v − concat-centroid), query LUTs from the
    * rotated decomposed origin; each rotated component is a literal
    * left-assoc multiply-accumulate chain (the q125 treatment under
    * the product router). */
  def imiPqOpqResidualOracleSql(spark: SparkSession, sfDir: String): String =
    imiPqResidualOracle(spark, sfDir, opq = true)

  private def imiPqResidualOracle(spark: SparkSession, sfDir: String,
                                  opq: Boolean): String = {
    val emb = Io.readParquet(spark, s"$sfDir/embeddings.parquet")
    val (c1, c2) = graft.ops.Similarity.trainedImiCentroids(emb, kPerHalf = 4)
    val (rotOpt, cb) =
      if (opq) {
        val (r, c) = graft.ops.Pq.trainedImiOpqResidual(emb, c1, c2,
          m = 8, ks = 16)
        (Some(r), c)
      } else
        (None, graft.ops.Pq.trainedImiResidualCodebooks(emb, c1, c2,
          m = 8, ks = 16))
    val kk = c1.length
    val h = c1.head.length
    val dim = h + c2.head.length
    val np = math.min(4, kk)
    val m = cb.length; val ds = cb(0)(0).length
    val ccValues = (for (a <- c1.indices; b <- c2.indices) yield {
      val cc = c1(a) ++ c2(b)
      s"(${a * kk + b}, CAST(${cc.mkString("[", ", ", "]")} AS DOUBLE[]))"
    }).mkString(",\n          ")
    val cbValues = cb.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, j) =>
        s"($s, $j, CAST(${c.mkString("[", ", ", "]")} AS DOUBLE[]))"
      }
    }.mkString(",\n          ")
    val subList = (1 to dim).map(d => s"pc.e[$d]-cc.c[$d]")
      .mkString("[", ", ", "]")
    val qSubList = (1 to dim).map(d => s"q.e[$d]-cc.c[$d]")
      .mkString("[", ", ", "]")
    val distExpr = (0 until ds).map { d =>
      s"(e[cb.s*$ds+${d + 1}]-c[${d + 1}])*(e[cb.s*$ds+${d + 1}]-c[${d + 1}])"
    }.mkString("\n            + ")
    val codeCols = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN code END) AS c$s").mkString(", ")
    val adcJoins = (1 until m).map { s =>
      s"JOIN ql l$s ON l$s.query_id = l0.query_id AND l$s.cell = p.cell " +
        s"AND l$s.s = $s AND l$s.j = n.c$s"
    }.mkString("\n        ")
    val adcSum = (0 until m).map(s => s"l$s.dist").mkString(" + ")
    // the rotation layer (opq): each output component is one literal
    // left-assoc multiply-accumulate chain over the source's residual
    // components — the q125 rotList treatment; the rotated sources
    // materialize because each residual component is referenced dim×
    def rotList(src: String, rot: Array[Array[Double]]): String =
      rot.map(row => row.zipWithIndex
        .map { case (w, d) => s"$w*$src.e[${d + 1}]" }
        .mkString("(", " + ", ")")).mkString("[", ", ", "]")
    val mat = if (opq) "MATERIALIZED " else ""
    val rotCtes = rotOpt.map { rot =>
      s""",
      rrv AS MATERIALIZED (
        SELECT vec_id, ${rotList("rv", rot)} AS e FROM rv),
      qrr AS MATERIALIZED (
        SELECT query_id, cell, ${rotList("qr", rot)} AS e FROM qr)"""
    }.getOrElse("")
    val corpusSrc = if (opq) "rrv" else "rv"
    val querySrc = if (opq) "qrr" else "qr"
    s"""
      WITH ${duckCellAssignCtes(c1, "a")
        .replace("acells AS (", "acells AS MATERIALIZED (")},
      ${duckCellAssignCtes(c2, "b", off = h)
        .replace("bcells AS (", "bcells AS MATERIALIZED (")},
      pcells AS MATERIALIZED (
        SELECT a.vec_id, a.e, a.cell * $kk + b.cell AS cell
        FROM acells a JOIN bcells b ON a.vec_id = b.vec_id),
      cc AS (SELECT * FROM (VALUES
          $ccValues) AS t(cell, c)),
      cb AS (SELECT * FROM (VALUES
          $cbValues) AS t(s, j, c)),
      rv AS $mat(
        SELECT pc.vec_id, $subList AS e
        FROM pcells pc JOIN cc ON pc.cell = cc.cell),
      t1 AS (SELECT vec_id AS query_id, cell AS h1, cos AS s1 FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM acellcos WHERE vec_id < 20) WHERE rn <= $np),
      t2 AS (SELECT vec_id AS query_id, cell AS h2, cos AS s2 FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM bcellcos WHERE vec_id < 20) WHERE rn <= $np),
      probed AS MATERIALIZED (SELECT query_id, cell FROM (
          SELECT t1.query_id, t1.h1 * $kk + t2.h2 AS cell,
            row_number() OVER (PARTITION BY t1.query_id
              ORDER BY (t1.s1 + t2.s2) DESC, t1.h1 * $kk + t2.h2) AS rn
          FROM t1 JOIN t2 ON t1.query_id = t2.query_id) WHERE rn <= 4),
      qr AS $mat(
        SELECT p.query_id, p.cell, $qSubList AS e
        FROM probed p
        JOIN av q ON q.vec_id = p.query_id
        JOIN cc ON cc.cell = p.cell)$rotCtes,
      sub AS (
        SELECT $corpusSrc.vec_id, cb.s, cb.j,
          $distExpr AS dist
        FROM $corpusSrc CROSS JOIN cb),
      codes AS (
        SELECT vec_id, s, j AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, s
            ORDER BY dist, j) AS rn
          FROM sub) WHERE rn = 1),
      n AS MATERIALIZED (SELECT vec_id AS neighbor_id, $codeCols
            FROM codes GROUP BY vec_id),
      ql AS MATERIALIZED (
        SELECT $querySrc.query_id, $querySrc.cell, cb.s, cb.j,
          $distExpr AS dist
        FROM $querySrc CROSS JOIN cb),
      adc AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, $adcSum AS adist
        FROM probed p
        JOIN pcells a USING (cell)
        JOIN n ON n.neighbor_id = a.vec_id
        JOIN ql l0 ON l0.query_id = p.query_id AND l0.cell = p.cell
          AND l0.s = 0 AND l0.j = n.c0
        $adcJoins
        WHERE p.query_id <> a.vec_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(adist, 4) AS adc_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adist, neighbor_id) AS rnk FROM adc)
      WHERE rnk <= 5"""
  }

  /** q141 oracle: the q138 routing chain ending in thresholded exact
    * pairs instead of top-k — probe × probed-cell corpus rows with
    * cosine >= 0.4, the [[graft.ops.Similarity.imiNearDuplicates]]
    * contract (unrounded threshold compare, 1e-4-rounded output, q38's
    * proven pattern). */
  def imiNearDupOracleSql(spark: SparkSession, sfDir: String): String = {
    val emb = Io.readParquet(spark, s"$sfDir/embeddings.parquet")
    val (c1, c2) = graft.ops.Similarity.trainedImiCentroids(emb, kPerHalf = 4)
    val kk = c1.length
    val h = c1.head.length
    val np = math.min(4, kk)
    s"""
      WITH ${duckCellAssignCtes(c1, "a")},
      ${duckCellAssignCtes(c2, "b", off = h)},
      assigned AS (
        SELECT a.vec_id AS neighbor_id, a.e AS cv,
               a.cell * $kk + b.cell AS cell
        FROM acells a JOIN bcells b ON a.vec_id = b.vec_id),
      t1 AS (SELECT vec_id AS query_id, e AS qv, cell AS h1, cos AS s1 FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM acellcos WHERE vec_id < 20) WHERE rn <= $np),
      t2 AS (SELECT vec_id AS query_id, cell AS h2, cos AS s2 FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM bcellcos WHERE vec_id < 20) WHERE rn <= $np),
      probed AS (SELECT query_id, qv, cell FROM (
          SELECT t1.query_id, t1.qv, t1.h1 * $kk + t2.h2 AS cell,
            row_number() OVER (PARTITION BY t1.query_id
              ORDER BY (t1.s1 + t2.s2) DESC, t1.h1 * $kk + t2.h2) AS rn
          FROM t1 JOIN t2 ON t1.query_id = t2.query_id) WHERE rn <= 4)
      SELECT query_id AS vec_id, neighbor_id AS index_vec_id,
        round(sim, 4) AS cos_sim
      FROM (
        SELECT query_id, neighbor_id,
          list_dot_product(qv, cv) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        FROM probed p JOIN assigned a USING (cell))
      WHERE sim >= 0.4"""
  }

  /** q62 oracle, generated like q29's: same trained centroids as
    * literals, within-cell pairwise cosine >= 0.4 as duplicate edges,
    * transitive closure via recursive CTE (the q42 mirror), keep the
    * component minimum. */
  def semDedupOracleSql(spark: SparkSession, sfDir: String): String = {
    val emb = Io.readParquet(spark, s"$sfDir/embeddings.parquet")
    // identical corpus-scaled cluster count as the query side (nlist=0
    // default in semDedup) — cells are part of the declared output
    val cent = graft.ops.Similarity.trainedCentroids(
      emb, nlist = graft.ops.Similarity.semDedupNlist(emb.count()))
    s"""
      WITH RECURSIVE ${duckCellAssignCtes(cent)},
      pairs AS (
        SELECT a.vec_id AS pa, b.vec_id AS pb
        FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e) /
          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.4),
      edges AS (SELECT pa AS su, pb AS sv FROM pairs
                UNION SELECT pb, pa FROM pairs),
      reach(su, sv) AS (
        SELECT su, su FROM edges
        UNION
        SELECT g.su, r.sv FROM edges g JOIN reach r ON r.su = g.sv),
      comp AS (SELECT su AS vid, min(sv) AS component_id FROM reach GROUP BY su),
      losers AS (SELECT vid FROM comp WHERE vid <> component_id)
      SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM cells
      WHERE vec_id NOT IN (SELECT vid FROM losers)"""
  }

  /** q82 oracle, generated like q29's: the trained mean/eigenvector
    * doubles embed as literals, the projection mirrors the Spark
    * expression's left-associated order — identical IEEE ops on
    * identical constants, so values agree bit-for-bit before the final
    * 6-dp round. */
  def pcaOracleSql(spark: SparkSession, sfDir: String): String = {
    val (mu, v) = graft.ops.Similarity.trainedPc(
      Io.readParquet(spark, s"$sfDir/embeddings.parquet"))
    val proj = v.indices.map(i => s"(e[${i + 1}] - ${mu(i)}) * ${v(i)}")
      .mkString(" + ")
    s"""SELECT vec_id, round($proj, 6) AS pc1
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"""
  }

  /** Shared CTE block for the PQ oracles (q114, q115): the trained
    * codebook cube as a VALUES relation, per-(vector, subspace, code)
    * squared-L2 with d-ascending left-associated term sums, and the
    * per-subspace argmin code (ties to the lowest code) — the same
    * IEEE ops in the same order as PqEncode/PqLut, so codes and
    * distances agree bit-for-bit with the native expressions. */
  private def duckPqCtes(cb: Array[Array[Array[Double]]]): String = {
    val m = cb.length; val ks = cb(0).length; val ds = cb(0)(0).length
    val values = cb.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, j) =>
        s"($s, $j, CAST(${c.mkString("[", ", ", "]")} AS DOUBLE[]))"
      }
    }.mkString(",\n          ")
    // (e[s·ds+d+1] − c[d+1])² terms, d ascending, left-associated
    val distExpr = (0 until ds).map { d =>
      s"(e[cb.s*$ds+${d + 1}]-c[${d + 1}])*(e[cb.s*$ds+${d + 1}]-c[${d + 1}])"
    }.mkString("\n            + ")
    val codeCols = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN code END) AS c$s").mkString(", ")
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      cb AS (SELECT * FROM (VALUES
          $values) AS t(s, j, c)),
      sub AS (
        SELECT v.vec_id, cb.s, cb.j,
          $distExpr AS dist
        FROM v CROSS JOIN cb),
      codes AS (
        SELECT vec_id, s, j AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, s
            ORDER BY dist, j) AS rn
          FROM sub) WHERE rn = 1),
      n AS (SELECT vec_id AS neighbor_id, $codeCols
            FROM codes GROUP BY vec_id),
      ql AS (SELECT vec_id AS query_id, s, j, dist FROM sub
             WHERE vec_id < 20)"""
  }

  /** The ADC join-sum over the pivoted code columns: one ql row per
    * subspace, summed s-ascending left-associated — the PqAdc loop. */
  private def duckAdcCte(m: Int): String = {
    val joins = (1 until m).map { s =>
      s"JOIN ql l$s ON l$s.query_id = l0.query_id AND l$s.s = $s AND l$s.j = n.c$s"
    }.mkString("\n        ")
    val sum = (0 until m).map(s => s"l$s.dist").mkString(" + ")
    s"""adc AS (
        SELECT l0.query_id, n.neighbor_id, $sum AS adist
        FROM n
        JOIN ql l0 ON l0.s = 0 AND l0.j = n.c0
        $joins
        WHERE l0.query_id <> n.neighbor_id)"""
  }

  /** q114 oracle, generated at Verify-dump time: the SAME codebooks
    * Pq.topK trains (deterministic lowest-id sample, per-subspace
    * Lloyd), embedded as literals; codes + ADC re-derived in SQL. */
  def pqOracleSql(spark: SparkSession, sfDir: String): String = {
    val cb = graft.ops.Pq.trainCodebooks(
      Io.readParquet(spark, s"$sfDir/embeddings.parquet"), m = 8, ks = 16)
    s"""
      WITH ${duckPqCtes(cb)},
      ${duckAdcCte(cb.length)}
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(adist, 4) AS adc_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adist, neighbor_id) AS rnk FROM adc)
      WHERE rnk <= 5"""
  }

  /** q115 oracle: the q114 ADC ranking truncated at k·refine = 20 ids
    * per query (same tie order), then exact cosine re-ranked — the
    * q29-style list_dot_product formulation over only shortlist rows. */
  def pqRefineOracleSql(spark: SparkSession, sfDir: String): String = {
    val cb = graft.ops.Pq.trainCodebooks(
      Io.readParquet(spark, s"$sfDir/embeddings.parquet"), m = 8, ks = 16)
    s"""
      WITH ${duckPqCtes(cb)},
      ${duckAdcCte(cb.length)},
      shortlist AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adist, neighbor_id) AS rnk FROM adc)
        WHERE rnk <= 20),
      rer AS (
        SELECT sl.query_id, sl.neighbor_id,
          list_dot_product(qv.e, nv.e) /
            (sqrt(list_dot_product(qv.e, qv.e)) *
             sqrt(list_dot_product(nv.e, nv.e))) AS sim
        FROM shortlist sl
        JOIN v qv ON qv.vec_id = sl.query_id
        JOIN v nv ON nv.vec_id = sl.neighbor_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(sim, 4) AS cos_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS rnk FROM rer)
      WHERE rnk <= 5"""
  }

  /** q118 oracle: the IVF-PQ serving path re-derived end to end —
    * cell routing from the embedded centroids (the q29 probing
    * construction, CTE names prefixed `i` to coexist with the PQ
    * chain's `v`), codes + ADC from the embedded codebooks (the q114
    * mechanism), candidates restricted to each query's nprobe=2
    * closest cells. Each neighbor lives in exactly one cell, so the
    * probed join yields each (query, neighbor) pair at most once. */
  def ivfPqOracleSql(spark: SparkSession, sfDir: String): String =
    ivfPqOracleSqlImpl(spark, sfDir, candidateFilter = None)

  /** q154: the q118 chain with the candidate scan GATED on the allowed
    * ids (pre-filter semantics, exactly where the engine semi-joins —
    * before ranking), the metadata predicate the engine resolves from
    * the embeddings label column. */
  def ivfPqFilteredOracleSql(spark: SparkSession, sfDir: String): String =
    ivfPqOracleSqlImpl(spark, sfDir, candidateFilter =
      Some("a.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 7)"))

  private def ivfPqOracleSqlImpl(spark: SparkSession, sfDir: String,
                                 candidateFilter: Option[String]): String = {
    val em = Io.readParquet(spark, s"$sfDir/embeddings.parquet")
    val cent = graft.ops.Similarity.trainedCentroids(em, nlist = 8)
    val cb = graft.ops.Pq.trainCodebooks(em, m = 8, ks = 16)
    val m = cb.length
    val adcJoins = (1 until m).map { s =>
      s"JOIN ql l$s ON l$s.query_id = l0.query_id AND l$s.s = $s AND l$s.j = n.c$s"
    }.mkString("\n        ")
    val adcSum = (0 until m).map(s => s"l$s.dist").mkString(" + ")
    s"""
      WITH ${duckPqCtes(cb)},
      ${duckCellAssignCtes(cent, prefix = "i")},
      probed AS (
        SELECT vec_id AS query_id, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM icellcos WHERE vec_id < 20) WHERE rn <= 2),
      adc AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, $adcSum AS adist
        FROM probed p
        JOIN icells a USING (cell)
        JOIN n ON n.neighbor_id = a.vec_id
        JOIN ql l0 ON l0.query_id = p.query_id AND l0.s = 0 AND l0.j = n.c0
        $adcJoins
        WHERE p.query_id <> a.vec_id
          ${candidateFilter.map(f => s"AND $f").getOrElse("")})
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(adist, 4) AS adc_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adist, neighbor_id) AS rnk FROM adc)
      WHERE rnk <= 5"""
  }

  /** q122 oracle: the RESIDUAL IVF-PQ (true IVFADC) serving path
    * re-derived end to end — the q118 chain extended with the per-cell
    * centroid subtraction on BOTH sides. Corpus codes derive from
    * v − centroid(cell(v)) under residual-trained codebooks (`rv` →
    * `sub` → `codes`); each query's LUT is computed PER PROBED CELL
    * from q − centroid(cell) (`qr` → `ql`, keyed (query_id, cell)), so
    * the ADC join additionally matches the candidate's cell. All
    * constants (router centroids, residual codebooks) embed as the
    * identical Scala-printed doubles; every element-wise subtraction
    * is written out per component so both engines run the same IEEE
    * op on the same values (CAST-to-double element − double literal,
    * exactly [[graft.functions.VectorExpressions.CellResidual]]'s
    * widen-then-subtract). */
  def ivfPqResidualOracleSql(spark: SparkSession, sfDir: String): String =
    s"""
      WITH ${ivfPqResidualChain(spark, sfDir)}
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(adist, 4) AS adc_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adist, neighbor_id) AS rnk FROM adc)
      WHERE rnk <= 5"""

  /** q125 oracle: the q122 chain with the OPQ rotation layer — corpus
    * codes derive from R·(v − centroid), query LUTs from
    * R·(q − centroid); each rotated component is a literal left-assoc
    * multiply-accumulate chain over the embedded rotation doubles,
    * exactly [[graft.functions.VectorExpressions.Rotate]]'s
    * ascending-d loop. */
  def ivfPqOpqOracleSql(spark: SparkSession, sfDir: String): String =
    s"""
      WITH ${ivfPqResidualChain(spark, sfDir, opq = true)}
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(adist, 4) AS adc_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adist, neighbor_id) AS rnk FROM adc)
      WHERE rnk <= 5"""

  /** q124 oracle: the REFINED residual serving path — the q122 ADC
    * chain truncated to each query's k·refine = 10 shortlist ids (same
    * (adist, neighbor_id) tie order as [[graft.ops.Pq.ivfPqTopKRefined]]'s
    * shortlist stage), then exact-cosine re-ranked against the raw
    * vectors (`iv` — the q115 re-rank construction), top 5. */
  def ivfPqResidualRefinedOracleSql(spark: SparkSession, sfDir: String): String =
    s"""
      WITH ${ivfPqResidualChain(spark, sfDir)},
      shortlist AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adist, neighbor_id) AS rnk FROM adc)
        WHERE rnk <= 10),
      rer AS (
        SELECT sl.query_id, sl.neighbor_id,
          list_dot_product(qv.e, nv.e) /
            (sqrt(list_dot_product(qv.e, qv.e)) *
             sqrt(list_dot_product(nv.e, nv.e))) AS sim
        FROM shortlist sl
        JOIN iv qv ON qv.vec_id = sl.query_id
        JOIN iv nv ON nv.vec_id = sl.neighbor_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(sim, 4) AS cos_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS rnk FROM rer)
      WHERE rnk <= 5"""

  /** DuckDB rendering of IEEE binary16 RNE over a double that is
    * exactly a float (our embeddings are FLOAT[], so no double→float
    * pre-rounding is needed): snap to the half grid at quantum
    * 2^(e−10) (e clamped at −14 — the subnormal grid) with banker's
    * rounding. The exponent derives from floor(log2|x|) and is then
    * SELF-CORRECTED against the exact pow(2, e) bounds, so a libm
    * log2 landing on the wrong side of a binade boundary cannot skew
    * the quantum. x/2^k, round_even, and the re-multiply are all
    * exact in doubles, so the result is bit-identical to
    * [[graft.functions.VectorExpressions.halfBits]]∘halfToDouble
    * (validated element-for-element against numpy float16 on the full
    * sf0.01 corpus plus tie/boundary/subnormal edges). Inlined
    * repeatedly inside one list_transform lambda — DuckDB lambdas
    * cannot bind intermediates; evaluation cost is immaterial at
    * oracle scale. */
  private val DuckHalfE0 =
    "CAST(floor(log2(CASE WHEN x = 0 THEN 1 ELSE abs(x) END)) AS INT)"
  private val DuckHalfSe =
    s"""greatest(CASE WHEN pow(2.0, $DuckHalfE0) > abs(x) THEN $DuckHalfE0 - 1
          WHEN pow(2.0, $DuckHalfE0 + 1) <= abs(x) THEN $DuckHalfE0 + 1
          ELSE $DuckHalfE0 END, -14) - 10"""
  private val DuckHalfLambda =
    s"""x -> CASE WHEN x = 0 THEN CAST(0 AS DOUBLE)
          ELSE round_even(x / pow(2.0, $DuckHalfSe), 0) * pow(2.0, $DuckHalfSe) END"""

  /** q129 oracle: q124's refined residual chain, with the re-rank's
    * NEIGHBOR vectors half-rounded ([[DuckHalfLambda]] over the corpus
    * relation — the values [[graft.ops.Pq.ivfPqTopKRefinedHalf]]
    * decodes from the index's packed vec16). The query side stays full
    * precision (asymmetric refine), the shortlist stage is q124's
    * verbatim (same codes). */
  def ivfPqHalfRefinedOracleSql(spark: SparkSession, sfDir: String): String =
    s"""
      WITH ${ivfPqResidualChain(spark, sfDir)},
      shortlist AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adist, neighbor_id) AS rnk FROM adc)
        WHERE rnk <= 10),
      hv AS (SELECT vec_id, list_transform(e, $DuckHalfLambda) AS e FROM iv),
      rer AS (
        SELECT sl.query_id, sl.neighbor_id,
          list_dot_product(qv.e, nv.e) /
            (sqrt(list_dot_product(qv.e, qv.e)) *
             sqrt(list_dot_product(nv.e, nv.e))) AS sim
        FROM shortlist sl
        JOIN iv qv ON qv.vec_id = sl.query_id
        JOIN hv nv ON nv.vec_id = sl.neighbor_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(sim, 4) AS cos_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS rnk FROM rer)
      WHERE rnk <= 5"""

  /** The shared WITH-body of the residual (IVFADC) oracles, ending in
    * `adc(query_id, neighbor_id, adist)` — q122 ranks it directly,
    * q124 shortlists and exact-re-ranks it; `opq = true` (q125)
    * inserts the rotation layer (rrv/qrr) between the residuals and
    * the code/LUT derivation, with the trained matrix embedded as
    * literal multiply-accumulate chains. */
  private def ivfPqResidualChain(spark: SparkSession, sfDir: String,
                                 opq: Boolean = false): String = {
    val em = Io.readParquet(spark, s"$sfDir/embeddings.parquet")
    val cent = graft.ops.Similarity.trainedCentroids(em, nlist = 8)
    val (rotOpt, cb) =
      if (opq) {
        val (r, c) = graft.ops.Pq.trainedOpqResidual(em, cent, m = 8, ks = 16)
        (Some(r), c)
      } else
        (None, graft.ops.Pq.trainedResidualCodebooks(em, cent, m = 8, ks = 16))
    val m = cb.length; val ds = cb(0)(0).length
    val dim = cent.head.length
    val centValues = cent.zipWithIndex.map { case (c, i) =>
      s"($i, CAST(${c.mkString("[", ", ", "]")} AS DOUBLE[]))"
    }.mkString(",\n          ")
    val cbValues = cb.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, j) =>
        s"($s, $j, CAST(${c.mkString("[", ", ", "]")} AS DOUBLE[]))"
      }
    }.mkString(",\n          ")
    val subList = (1 to dim).map(d => s"a.e[$d]-cc.c[$d]")
      .mkString("[", ", ", "]")
    val qSubList = (1 to dim).map(d => s"q.e[$d]-cc.c[$d]")
      .mkString("[", ", ", "]")
    val distExpr = (0 until ds).map { d =>
      s"(e[cb.s*$ds+${d + 1}]-c[${d + 1}])*(e[cb.s*$ds+${d + 1}]-c[${d + 1}])"
    }.mkString("\n            + ")
    val codeCols = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN code END) AS c$s").mkString(", ")
    val adcJoins = (1 until m).map { s =>
      s"JOIN ql l$s ON l$s.query_id = l0.query_id AND l$s.cell = p.cell " +
        s"AND l$s.s = $s AND l$s.j = n.c$s"
    }.mkString("\n        ")
    val adcSum = (0 until m).map(s => s"l$s.dist").mkString(" + ")
    // the rotation layer: each output component is one literal
    // left-assoc multiply-accumulate chain over the source's residual
    // components — ascending d, no FMA, the Rotate expression's exact
    // arithmetic. The source CTEs materialize in opq mode because each
    // residual component is referenced `dim` times by the rotation.
    def rotList(src: String, rot: Array[Array[Double]]): String =
      rot.map(row => row.zipWithIndex
        .map { case (w, d) => s"$w*$src.e[${d + 1}]" }
        .mkString("(", " + ", ")")).mkString("[", ", ", "]")
    val mat = if (opq) "MATERIALIZED " else ""
    val rotCtes = rotOpt.map { rot =>
      s""",
      rrv AS MATERIALIZED (
        SELECT vec_id, ${rotList("rv", rot)} AS e FROM rv),
      qrr AS MATERIALIZED (
        SELECT query_id, cell, ${rotList("qr", rot)} AS e FROM qr)"""
    }.getOrElse("")
    val corpusSrc = if (opq) "rrv" else "rv"
    val querySrc = if (opq) "qrr" else "qr"
    // the multiply-referenced CTEs are MATERIALIZED by hand: the ADC
    // stage references `ql` eight times and DuckDB's default inlining
    // replicates the whole routing + per-cell-residual expression
    // chain into every copy — the optimizer then chews on 8× the
    // (64-subtraction × 128-entry) trees for minutes (measured; 1.7 s
    // with the hint). Values are unchanged — materialization only
    // pins evaluate-once.
    s"""${duckCellAssignCtes(cent, prefix = "i")
        .replace("icells AS (", "icells AS MATERIALIZED (")},
      cc AS (SELECT * FROM (VALUES
          $centValues) AS t(cell, c)),
      cb AS (SELECT * FROM (VALUES
          $cbValues) AS t(s, j, c)),
      rv AS $mat(
        SELECT a.vec_id, $subList AS e
        FROM icells a JOIN cc ON a.cell = cc.cell),
      probed AS MATERIALIZED (
        SELECT vec_id AS query_id, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cell) AS rn
          FROM icellcos WHERE vec_id < 20) WHERE rn <= 2),
      qr AS $mat(
        SELECT p.query_id, p.cell, $qSubList AS e
        FROM probed p
        JOIN iv q ON q.vec_id = p.query_id
        JOIN cc ON cc.cell = p.cell)$rotCtes,
      sub AS (
        SELECT $corpusSrc.vec_id, cb.s, cb.j,
          $distExpr AS dist
        FROM $corpusSrc CROSS JOIN cb),
      codes AS (
        SELECT vec_id, s, j AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, s
            ORDER BY dist, j) AS rn
          FROM sub) WHERE rn = 1),
      n AS MATERIALIZED (SELECT vec_id AS neighbor_id, $codeCols
            FROM codes GROUP BY vec_id),
      ql AS MATERIALIZED (
        SELECT $querySrc.query_id, $querySrc.cell, cb.s, cb.j,
          $distExpr AS dist
        FROM $querySrc CROSS JOIN cb),
      adc AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, $adcSum AS adist
        FROM probed p
        JOIN icells a USING (cell)
        JOIN n ON n.neighbor_id = a.vec_id
        JOIN ql l0 ON l0.query_id = p.query_id AND l0.cell = p.cell
          AND l0.s = 0 AND l0.j = n.c0
        $adcJoins
        WHERE p.query_id <> a.vec_id)"""
  }

  /** q134 oracle: the DISTRIBUTED k-means chain re-derived end-to-end
    * in DuckDB — init = lowest-nlist ids, per-iteration cosine-argmax
    * assignment (list_dot_product is the same ascending fold as
    * NearestCell's loops), per-cell element-wise INTEGER-micro sums
    * (the determinism design: one rounding, then order-independent
    * BIGINT sums), update = (sum/count)/1e6 in exactly the trainer's
    * association, empty cells keeping their centroid. No trained
    * constants are embedded — the SQL re-derives everything from the
    * parquet, which is the point: the trainer is deterministic enough
    * to be recomputed bit-for-bit by a different engine. */
  private def duckKmeansSql(nlist: Int, iters: Int): String = s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)${duckKmeansChain("", nlist, iters)}
      SELECT CAST(cell AS BIGINT) AS cell, CAST(d - 1 AS BIGINT) AS d, val
      FROM (SELECT cell, unnest(c) AS val, generate_subscripts(c, 1) AS d
            FROM c$iters)"""

  /** The q134 training chain as prefixed CTEs over a caller-defined
    * source `{p}v(vec_id, e)` — factored out so the q144 per-half
    * oracle runs TWO independent chains (one per half-space) in one
    * statement, each re-deriving init + every iteration from the
    * parquet exactly like q134 (same assignment tie order, same
    * integer-micro sums, same empty-cell carry). Emits
    * `{p}c0 … {p}c{iters}`. */
  private def duckKmeansChain(p: String, nlist: Int, iters: Int): String = {
    def cos(e: String, c: String) =
      s"""CASE WHEN sqrt(list_dot_product($c, $c)) = 0
               OR sqrt(list_dot_product($e, $e)) = 0 THEN 0.0
          ELSE list_dot_product($e, $c) /
               (sqrt(list_dot_product($c, $c)) * sqrt(list_dot_product($e, $e)))
          END"""
    val sb = new StringBuilder
    sb ++= s""",
      ${p}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS c
             FROM (SELECT vec_id, e FROM ${p}v ORDER BY vec_id LIMIT $nlist))"""
    for (i <- 1 to iters) {
      val prev = s"${p}c${i - 1}"
      sb ++= s""",
      ${p}a$i AS (
        SELECT vec_id, e, cell FROM (
          SELECT vv.vec_id, vv.e, $prev.cell,
            row_number() OVER (PARTITION BY vv.vec_id
              ORDER BY (${cos("vv.e", s"$prev.c")}) DESC, $prev.cell) AS rn
          FROM ${p}v vv CROSS JOIN $prev) WHERE rn = 1),
      ${p}s$i AS (
        SELECT cell, d, CAST(sum(m) AS BIGINT) AS s FROM (
          SELECT cell,
            unnest(list_transform(e, x -> CAST(round(x * 1000000.0) AS BIGINT))) AS m,
            generate_subscripts(e, 1) AS d
          FROM ${p}a$i)
        GROUP BY cell, d),
      ${p}n$i AS (SELECT cell, count(*) AS cnt FROM ${p}a$i GROUP BY cell),
      ${p}c$i AS (
        SELECT cell, list(val ORDER BY d) AS c FROM (
          SELECT ${p}s$i.cell, ${p}s$i.d,
            (CAST(${p}s$i.s AS DOUBLE) / ${p}n$i.cnt) / 1000000.0 AS val
          FROM ${p}s$i JOIN ${p}n$i USING (cell)) GROUP BY cell
        UNION ALL
        SELECT $prev.cell, $prev.c
        FROM $prev LEFT JOIN ${p}n$i USING (cell) WHERE ${p}n$i.cnt IS NULL)"""
    }
    sb.toString
  }

  /** q144 oracle: BOTH half-space trainings of the distributed
    * product k-means re-derived end-to-end in DuckDB — two q134
    * chains, one per half slice, with NO embedded constants (the
    * fused one-scan-per-iteration Spark implementation is pure
    * optimization over exactly this per-half recurrence, which is the
    * theorem the hash compare proves). Dim-agnostic: the half split
    * is len(e) // 2, derived in SQL like the engine derives it from
    * the first row. */
  private def duckImiKmeansSql(kPerHalf: Int, iters: Int): String = s"""
      WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      av AS (SELECT vec_id, list_slice(e, 1, len(e) // 2) AS e FROM v0),
      bv AS (SELECT vec_id, list_slice(e, len(e) // 2 + 1, len(e)) AS e FROM v0)${duckKmeansChain("a", kPerHalf, iters)}${duckKmeansChain("b", kPerHalf, iters)}
      SELECT CAST(0 AS BIGINT) AS half, CAST(cell AS BIGINT) AS cell,
        CAST(d - 1 AS BIGINT) AS d, val
      FROM (SELECT cell, unnest(c) AS val, generate_subscripts(c, 1) AS d
            FROM ac$iters)
      UNION ALL
      SELECT CAST(1 AS BIGINT) AS half, CAST(cell AS BIGINT) AS cell,
        CAST(d - 1 AS BIGINT) AS d, val
      FROM (SELECT cell, unnest(c) AS val, generate_subscripts(c, 1) AS d
            FROM bc$iters)"""

  /** q147 oracle: the corpus-trained IMI chain with NO embedded
    * constants — the q144 per-half training chains produce the final
    * half-centroid tables (`ac2`/`bc2`), and everything downstream
    * derives from them IN SQL: per-half corpus assignment (argmax
    * cosine, ties to the lower cell — NearestCell's fold order),
    * product cells, per-half top-np query routing, top-nprobe pairs
    * by summed half-cosines ((s1+s2) DESC ≡ the engine's negated-sum
    * ASC; IEEE negation is exact), exact cosine re-rank over probed
    * cells. q138's oracle proved the serve chain against EMBEDDED
    * literals; this one proves the whole train→build→serve
    * composition cross-engine. */
  private def duckCosExpr(e: String, c: String) =
    s"""CASE WHEN sqrt(list_dot_product($c, $c)) = 0
             OR sqrt(list_dot_product($e, $e)) = 0 THEN 0.0
        ELSE list_dot_product($e, $c) /
             (sqrt(list_dot_product($c, $c)) * sqrt(list_dot_product($e, $e)))
        END"""

  /** The derived-centroid CTE kit shared by q147/q148: corpus halves
    * (`v0/av/bv` + both training chains), per-half corpus assignment
    * against the DERIVED final centroid tables (argmax cosine, ties
    * to the lower cell — NearestCell's fold), per-half query routing
    * (top-np cells), and the top-nprobe product-pair cut. One
    * generator for the derived routing arithmetic, never a copy. */
  private def duckDerivedImiCtes(kPerHalf: Int, iters: Int,
                                 nprobe: Int): String = {
    val np = math.min(nprobe, kPerHalf)
    // the final centroid tables MATERIALIZE: each is referenced by the
    // assignment AND the routing CTEs, and an inlined reference
    // re-evaluates the whole iterative training chain per use —
    // DuckDB's CTE inlining makes the q148 oracle effectively hang
    // without this (the q129 `AS MATERIALIZED` lesson)
    def asg(p: String) = s"""
      ${p}cf AS MATERIALIZED (SELECT cell, c FROM ${p}c$iters),
      ${p}asg AS MATERIALIZED (SELECT vec_id, cell FROM (
          SELECT vv.vec_id, cc.cell,
            row_number() OVER (PARTITION BY vv.vec_id
              ORDER BY (${duckCosExpr("vv.e", "cc.c")}) DESC, cc.cell) AS rn
          FROM ${p}v vv CROSS JOIN ${p}cf cc) WHERE rn = 1)"""
    def route(p: String, h: String, sCol: String) = s"""
      ${p}t AS (SELECT vec_id AS query_id, cell AS $h, s AS $sCol FROM (
          SELECT vv.vec_id, cc.cell, (${duckCosExpr("vv.e", "cc.c")}) AS s,
            row_number() OVER (PARTITION BY vv.vec_id
              ORDER BY (${duckCosExpr("vv.e", "cc.c")}) DESC, cc.cell) AS rn
          FROM ${p}v vv CROSS JOIN ${p}cf cc
          WHERE vv.vec_id < 20)
        WHERE rn <= $np)"""
    s"""v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      av AS MATERIALIZED (SELECT vec_id, list_slice(e, 1, len(e) // 2) AS e FROM v0),
      bv AS MATERIALIZED (SELECT vec_id, list_slice(e, len(e) // 2 + 1, len(e)) AS e FROM v0)${duckKmeansChain("a", kPerHalf, iters)}${duckKmeansChain("b", kPerHalf, iters)},${asg("a")},${asg("b")},${route("a", "h1", "s1")},${route("b", "h2", "s2")},
      probed AS (SELECT query_id, cell FROM (
          SELECT at.query_id, at.h1 * $kPerHalf + bt.h2 AS cell,
            row_number() OVER (PARTITION BY at.query_id
              ORDER BY (at.s1 + bt.s2) DESC, at.h1 * $kPerHalf + bt.h2) AS rn
          FROM at JOIN bt ON at.query_id = bt.query_id) WHERE rn <= $nprobe)"""
  }

  private def duckImiCorpusTrainedSql(kPerHalf: Int, iters: Int,
                                      nprobe: Int, k: Int): String = {
    s"""
      WITH ${duckDerivedImiCtes(kPerHalf, iters, nprobe)},
      assigned AS (
        SELECT v0.vec_id AS neighbor_id, v0.e AS cv,
          aasg.cell * $kPerHalf + basg.cell AS cell
        FROM v0 JOIN aasg USING (vec_id) JOIN basg USING (vec_id)),
      qs AS (SELECT vec_id AS query_id, e AS qv FROM v0 WHERE vec_id < 20),
      scored AS (
        SELECT p.query_id, a.neighbor_id,
          list_dot_product(q.qv, a.cv) /
            (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.cv, a.cv))) AS sim
        FROM probed p JOIN qs q USING (query_id) JOIN assigned a USING (cell)
        WHERE p.query_id <> a.neighbor_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(sim, 4) AS cos_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS rnk FROM scored)
      WHERE rnk <= $k"""
  }

  /** q148 oracle (corpus-trained Multi-D-ADC): the q139 ADC chain with
    * the ROUTING DERIVED in SQL — the q144 training chains produce the
    * half-centroid tables, corpus assignment and query routing derive
    * from them (the q147 kit), and only the PQ codebook cube embeds as
    * literals (it IS sample-trained on the engine side by design — a
    * d/m-dim subspace quantizer estimates fine from the bounded
    * sample; routing cells are what need the whole corpus). Generated
    * at Verify time for the codebook constants. */
  def imiPqCorpusTrainedOracleSql(spark: SparkSession, sfDir: String): String = {
    val emb = Io.readParquet(spark, s"$sfDir/embeddings.parquet")
    val cb = graft.ops.Pq.trainCodebooks(emb, m = 8, ks = 16)
    val kPerHalf = 4
    val m = cb.length
    val adcJoins = (1 until m).map { s =>
      s"JOIN ql l$s ON l$s.query_id = l0.query_id AND l$s.s = $s AND l$s.j = n.c$s"
    }.mkString("\n        ")
    val adcSum = (0 until m).map(s => s"l$s.dist").mkString(" + ")
    s"""
      WITH ${duckPqCtes(cb)},
      ${duckDerivedImiCtes(kPerHalf, iters = 2, nprobe = 4)},
      assigned AS (
        SELECT aasg.vec_id AS neighbor_id,
          aasg.cell * $kPerHalf + basg.cell AS cell
        FROM aasg JOIN basg USING (vec_id)),
      adc AS (
        SELECT p.query_id, a.neighbor_id, $adcSum AS adist
        FROM probed p
        JOIN assigned a USING (cell)
        JOIN n ON n.neighbor_id = a.neighbor_id
        JOIN ql l0 ON l0.query_id = p.query_id AND l0.s = 0 AND l0.j = n.c0
        $adcJoins
        WHERE p.query_id <> a.neighbor_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        round(adist, 4) AS adc_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adist, neighbor_id) AS rnk FROM adc)
      WHERE rnk <= 5"""
  }

  /** The q131/q132 oracle body: the q126 pack/shuffle derivation over
    * the WHOLE corpus (the rebuild), restricted to capacity-full
    * sequences and keyed under `seed` — the store read-back's ground
    * truth. `fullseq`, not `full` (a DuckDB keyword). */
  /** The shared rebuild chain of the store oracles, ending in
    * `fullseq(pack_group, seq_id, n_tokens)` — the capacity-full
    * sequences of the whole-corpus pack (q131/q132/q135). */
  private def duckFullSeqCtes: String = s"""$DuckBpeTokenIdCtes,
      dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
             FROM tokid GROUP BY doc_id),
      pg AS (SELECT doc_id, n_tokens,
          (md5_number_lower('pack|' || CAST(doc_id AS VARCHAR))
             & 9223372036854775807) % 8 AS pack_group
        FROM dc),
      po AS (SELECT doc_id, pack_group,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY pack_group
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS bin_offset
        FROM pg),
      placed AS (
        SELECT po.pack_group, (po.bin_offset + t.pos) // 32 AS seq_id
        FROM tokid t JOIN po USING (doc_id)),
      seqs AS (
        SELECT pack_group, seq_id, CAST(count(*) AS BIGINT) AS n_tokens
        FROM placed GROUP BY pack_group, seq_id),
      fullseq AS (SELECT * FROM seqs WHERE n_tokens = 32)"""

  private def duckStoreRebuildSql(seed: String): String = s"""
      WITH $duckFullSeqCtes,
      keyed AS (
        SELECT *,
          (md5_number_lower('$seed|' || CAST(pack_group AS VARCHAR) || '|' ||
             CAST(seq_id AS VARCHAR)) & 9223372036854775807) AS skey
        FROM fullseq)
      SELECT CAST(skey % 4 AS BIGINT) AS shard,
        CAST(row_number() OVER (PARTITION BY skey % 4
          ORDER BY skey, pack_group, seq_id) - 1 AS BIGINT) AS shard_pos,
        CAST(pack_group AS BIGINT) AS pack_group,
        CAST(seq_id AS BIGINT) AS seq_id, n_tokens
      FROM keyed"""

  /** q135 oracle: the mixture read — both input stores hold the SAME
    * sequence population (the appended store and its epoch reshuffle;
    * a store's seed shapes arrangement, not contents, and the mix
    * re-keys anyway), so both sides of the union draw from `fullseq`
    * under per-store keep rates, then shuffle under the mix key. */
  private def duckStoreMixSql(weights: Seq[Long], numShards: Int,
                              seed: String): String = {
    val branches = weights.zipWithIndex.map { case (w, i) =>
      s"""SELECT $i AS store, pack_group, seq_id, n_tokens FROM fullseq
          WHERE (md5_number_lower('$seed|mix|$i|' ||
              CAST(pack_group AS VARCHAR) || '|' ||
              CAST(seq_id AS VARCHAR)) & 9223372036854775807)
            % 1000000 < $w"""
    }.mkString("\n        UNION ALL ")
    s"""
      WITH $duckFullSeqCtes,
      u AS ($branches),
      keyed AS (
        SELECT *,
          (md5_number_lower('$seed|' || CAST(store AS VARCHAR) || '|' ||
             CAST(pack_group AS VARCHAR) || '|' ||
             CAST(seq_id AS VARCHAR)) & 9223372036854775807) AS k
        FROM u)
      SELECT CAST(store AS BIGINT) AS store,
        CAST(k % $numShards AS BIGINT) AS shard,
        CAST(row_number() OVER (PARTITION BY k % $numShards
          ORDER BY k, store, pack_group, seq_id) - 1 AS BIGINT) AS shard_pos,
        CAST(pack_group AS BIGINT) AS pack_group,
        CAST(seq_id AS BIGINT) AS seq_id, n_tokens
      FROM keyed"""
  }

  /** q136 oracle: [[duckStoreMixSql]] generalized to oversampled
    * weights — one union branch per (store, pass), full passes
    * unfiltered, the last pass kept at `w mod 1M`; pass 0's draw and
    * epoch-key salts are the q135 originals (the compat contract the
    * Scala side keeps), later passes insert the pass index. */
  private def duckStoreMixOversampleSql(weights: Seq[Long], numShards: Int,
                                        seed: String): String = {
    val branches = weights.zipWithIndex.flatMap { case (w, i) =>
      val passes = math.max(1L, (w + 999999L) / 1000000L).toInt
      (0 until passes).map { r =>
        val keep = math.min(1000000L, w - r * 1000000L)
        val drawSalt = if (r == 0) s"$seed|mix|$i|" else s"$seed|mix|$i|$r|"
        val where =
          if (keep >= 1000000L) ""
          else s"""WHERE (md5_number_lower('$drawSalt' ||
              CAST(pack_group AS VARCHAR) || '|' ||
              CAST(seq_id AS VARCHAR)) & 9223372036854775807)
            % 1000000 < $keep"""
        s"""SELECT $i AS store, $r AS pass, pack_group, seq_id, n_tokens
            FROM fullseq $where"""
      }
    }.mkString("\n        UNION ALL ")
    s"""
      WITH $duckFullSeqCtes,
      u AS ($branches),
      keyed AS (
        SELECT *,
          (md5_number_lower('$seed|' || CAST(store AS VARCHAR) || '|' ||
             CASE WHEN pass = 0 THEN ''
                  ELSE CAST(pass AS VARCHAR) || '|' END ||
             CAST(pack_group AS VARCHAR) || '|' ||
             CAST(seq_id AS VARCHAR)) & 9223372036854775807) AS k
        FROM u)
      SELECT CAST(store AS BIGINT) AS store, CAST(pass AS BIGINT) AS pass,
        CAST(k % $numShards AS BIGINT) AS shard,
        CAST(row_number() OVER (PARTITION BY k % $numShards
          ORDER BY k, store, pass, pack_group, seq_id) - 1 AS BIGINT)
          AS shard_pos,
        CAST(pack_group AS BIGINT) AS pack_group,
        CAST(seq_id AS BIGINT) AS seq_id, n_tokens
      FROM keyed"""
  }

  /** The queries whose oracles embed data-dependent constants
    * (trained centroids, codebooks, rotations, principal axes),
    * generated from the sf dir they check and deterministic for it.
    * None of them is in the static [[oracleSql]]; together the two maps
    * cover [[queries]]. */
  def dataOracles: Map[String, (SparkSession, String) => String] = Map(
    "q29_ivf_ann" -> ivfOracleSql,
    "q62_semdedup" -> semDedupOracleSql,
    "q82_pca_project" -> pcaOracleSql,
    "q114_pq_ann" -> pqOracleSql,
    "q115_pq_refine" -> pqRefineOracleSql,
    "q118_ivfpq_probe" -> ivfPqOracleSql,
    "q154_filtered_ann" -> ivfPqFilteredOracleSql,
    "q122_ivfpq_residual" -> ivfPqResidualOracleSql,
    "q124_ivfpq_res_refined" -> ivfPqResidualRefinedOracleSql,
    "q125_ivfpq_opq" -> ivfPqOpqOracleSql,
    // q127 is q124 through the point-serving path: identical by construction
    "q127_ivfpq_point_refined" -> ivfPqResidualRefinedOracleSql,
    "q129_ivfpq_half_refined" -> ivfPqHalfRefinedOracleSql,
    // q130 is q118 through the point-serving path: identical by construction
    "q130_ivfpq_point_adc" -> ivfPqOracleSql,
    "q138_imi_ann" -> imiOracleSql,
    "q139_imi_pq_ann" -> imiPqOracleSql,
    // q140 is q139 through the point-serving path: identical by construction
    "q140_imi_pq_point" -> imiPqOracleSql,
    "q159_imi_filtered_ann" -> imiPqFilteredOracleSql,
    "q141_imi_neardup" -> imiNearDupOracleSql,
    "q142_imi_pq_residual" -> imiPqResidualOracleSql,
    "q143_imi_pq_opq" -> imiPqOpqResidualOracleSql,
    // routing fully derived in SQL (the q144 chains); only the
    // sample-trained codebook cube embeds
    "q148_imi_pq_corpus_trained" -> imiPqCorpusTrainedOracleSql)

  /** The DuckDB oracle SQL for query `name` over sf dir `dir`. */
  def oracleFor(spark: SparkSession, name: String, dir: String): String =
    dataOracles.get(name).fold(oracleSql(name))(_(spark, dir))

  /** The oracles that depend on no data; see [[dataOracles]] for the
    * rest. */
  def oracleSql: Map[String, String] = Map(
    "q40_subqueries" ->
      """SELECT o_orderkey, o_totalprice
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_returnflag = 'R')
           AND CAST(round(o_totalprice * 100) AS BIGINT) *
                 (SELECT count(*) FROM orders) >
               (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                FROM orders)""",
    "q39_curated_corpus" -> DuckCuratedSql,
    "q38_cosine_neardup_lsh" -> s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      b AS (SELECT vec_id, e, ${duckSrpBucket("e")} AS bucket FROM v)
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
        round(list_dot_product(a.e, c.e) /
          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.e, c.e))), 4) AS cos_sim
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      WHERE list_dot_product(a.e, c.e) /
          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.e, c.e))) >= 0.4""",
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
           count(*) AS cnt,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q02_revenue_filter" ->
      """SELECT count(*) AS cnt,
           CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q03_orders_by_segment" ->
      """SELECT c_mktsegment, count(*) AS order_cnt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q04_customers_no_orders" ->
      """SELECT c.c_custkey, c.c_name
         FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
         WHERE o.o_orderkey IS NULL""",
    "q05_lang_dim_join" ->
      """SELECT coalesce(l.lang_name, 'Unknown') AS lang_name, count(*) AS doc_cnt
         FROM documents d
         LEFT JOIN (VALUES ('EN','English'),('FR','French'),('ES','Spanish'),
                           ('DE','German'),('ZH','Chinese')) AS l(lang_code, lang_name)
           ON upper(d.lang) = l.lang_code
         GROUP BY 1""",
    "q06_date_dim" ->
      """SELECT d AS date_key, year(d) AS year, quarter(d) AS quarter,
           month(d) AS month, day(d) AS day, weekofyear(d) AS week
         FROM (SELECT CAST(o_orderdate AS DATE) AS d FROM orders
               UNION
               SELECT CAST(l_shipdate AS DATE) FROM lineitem)""",
    "q07_top5_nations_monthly" ->
      """WITH monthly AS (
           SELECT month(o_orderdate) AS order_month, n_name AS nation_name,
                  count(*) AS order_cnt
           FROM orders JOIN customer ON o_custkey = c_custkey
                       JOIN nation ON c_nationkey = n_nationkey
           WHERE year(o_orderdate) = 1995
           GROUP BY 1, 2)
         SELECT order_month, nation_name, order_cnt, rnk FROM (
           SELECT *, row_number() OVER (PARTITION BY order_month
             ORDER BY order_cnt DESC, nation_name) AS rnk FROM monthly)
         WHERE rnk <= 5""",
    "q08_top5_nations_ytd" ->
      """SELECT n_name AS nation_name, count(*) AS order_cnt
         FROM orders JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey
         WHERE year(o_orderdate) = 1995
         GROUP BY 1 ORDER BY order_cnt DESC, nation_name LIMIT 5""",
    "q09_orders_per_year" ->
      """SELECT year(o_orderdate) AS order_year, count(*) AS order_cnt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM orders GROUP BY 1""",
    "q10_orders_by_region" ->
      """SELECT r_name AS region_name, count(*) AS order_cnt
         FROM orders JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey
                     JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1""",
    "q11_scalar_funcs" ->
      """SELECT c_mktsegment,
           upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2)) AS seg_title,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_nvl
         FROM (SELECT DISTINCT c_mktsegment FROM customer)""",
    "q12_sas_parse" ->
      """WITH lines AS (
           SELECT doc_id,
             doc_id || ' =  ''' || source || '''' AS country_line,
             '''' || source || '''' || chr(9) || '=' || chr(9) || '''' || lang || ' ''' AS port_line
           FROM documents)
         SELECT doc_id,
           trim(regexp_extract(trim(country_line), '^([0-9]+) (\s*=\s*) ('')(.+)('')$', 1)) AS c_code,
           trim(regexp_extract(trim(country_line), '^([0-9]+) (\s*=\s*) ('')(.+)('')$', 4)) AS c_name,
           trim(regexp_extract(trim(port_line), '^('')(.+)('')(\s*)(=)(\s*)('')(.+)('')$', 2)) AS p_code,
           trim(regexp_extract(trim(port_line), '^('')(.+)('')(\s*)(=)(\s*)('')(.+)('')$', 8)) AS p_name
         FROM lines""",
    "q13_sas_date" ->
      """SELECT o_orderkey,
           DATE '1960-01-01' + CAST(o_orderkey % 20000 AS INTEGER) AS sas_date
         FROM orders""",
    "q14_quality_summary" ->
      """SELECT 'orders' AS table_name, 'o_custkey' AS column_name,
              count(*) AS row_cnt, count(*) - count(o_custkey) AS null_cnt FROM orders
         UNION ALL
         SELECT 'lineitem', 'l_orderkey', count(*), count(*) - count(l_orderkey) FROM lineitem
         UNION ALL
         SELECT 'customer', 'c_name', count(*), count(*) - count(c_name) FROM customer
         UNION ALL
         SELECT 'documents', 'text', count(*), count(*) - count(text) FROM documents""",
    "q15_text_stats" -> oracleSqlTextStats("documents"),
    "q16_dedup_exact" ->
      s"""SELECT $DuckFp AS fingerprint,
           min(doc_id) AS keep_doc_id, count(*) AS dup_cnt
         FROM documents GROUP BY 1""",
    "q83_incremental_dedup" ->
      // NOT EXISTS with plain equality, not NOT IN: mirrors the anti
      // join's null semantics (a null fingerprint never matches)
      s"""WITH fp AS (SELECT doc_id, $DuckFp AS fingerprint FROM documents)
         SELECT fingerprint, min(doc_id) AS doc_id
         FROM fp i
         WHERE doc_id % 3 = 0
           AND NOT EXISTS (SELECT 1 FROM fp h
                           WHERE h.doc_id % 3 <> 0
                             AND h.fingerprint = i.fingerprint)
         GROUP BY fingerprint""",
    "q84_temperature_mix" -> s"""
      WITH per AS (
        SELECT source,
          CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len($DuckTokens) END) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      m AS (SELECT source, n_tokens,
              CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS msqrt
            FROM per)
      SELECT source, n_tokens,
        round(CAST(msqrt AS DOUBLE) /
              CAST((SELECT sum(msqrt) FROM m) AS DOUBLE), 6) AS weight
      FROM m""",
    "q85_winsorize" -> """
      WITH base AS (
        SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem),
      hist AS (SELECT l_returnflag, cents, count(*) AS cnt FROM base GROUP BY 1, 2),
      cdf AS (SELECT *,
        sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY cents
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(cnt) OVER (PARTITION BY l_returnflag) AS nn
        FROM hist),
      bounds AS (
        SELECT l_returnflag, CAST(nn AS BIGINT) AS n,
          min(CASE WHEN cum >= (nn * 5 + 99) // 100 THEN cents END) AS lo_cents,
          min(CASE WHEN cum >= (nn * 95 + 99) // 100 THEN cents END) AS hi_cents
        FROM cdf GROUP BY l_returnflag, nn)
      SELECT b.l_returnflag, bo.n, bo.lo_cents, bo.hi_cents,
        CAST(sum(greatest(least(b.cents, bo.hi_cents), bo.lo_cents)) AS BIGINT)
          AS win_sum_cents,
        CAST(sum(CASE WHEN b.cents < bo.lo_cents THEN 1 ELSE 0 END) AS BIGINT)
          AS clipped_lo,
        CAST(sum(CASE WHEN b.cents > bo.hi_cents THEN 1 ELSE 0 END) AS BIGINT)
          AS clipped_hi
      FROM base b JOIN bounds bo USING (l_returnflag)
      GROUP BY 1, 2, 3, 4""",
    "q86_session_assign" -> s"""
      WITH $DuckSessionCtes,
      sess AS (SELECT user_id, session_seq,
                 min(ts_us) AS s_start, max(ts_us) AS s_end
               FROM s GROUP BY user_id, session_seq)
      SELECT p.event_id, p.user_id, sess.session_seq
      FROM e p JOIN sess ON p.user_id = sess.user_id
        AND p.ts_us BETWEEN sess.s_start AND sess.s_end""",
    "q88_cooccurrence" -> s"""
      WITH alltoks AS (
        SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                       ELSE $DuckTokens END) AS term
        FROM documents),
      vocab AS (SELECT term FROM (
          SELECT term, count(*) AS term_count FROM alltoks GROUP BY term
          ORDER BY term_count DESC, term LIMIT 30)),
      dt AS (SELECT DISTINCT doc_id, term FROM alltoks
             WHERE term IN (SELECT term FROM vocab))
      SELECT a.term AS term_a, b.term AS term_b, CAST(count(*) AS BIGINT) AS n_docs
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2 ORDER BY n_docs DESC, term_a, term_b LIMIT 100""",
    "q89_part_rank" -> DuckPageRankSql,
    "q90_salted_join" ->
      """SELECT c_mktsegment, count(*) AS event_cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1""",
    "q91_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q92_rolling_range" ->
      """WITH daily AS (
           SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS day_cents
           FROM orders GROUP BY 1, 2)
         SELECT o_orderpriority, d, day_cents,
           CAST(sum(day_cents) OVER (PARTITION BY o_orderpriority ORDER BY d
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS BIGINT)
             AS trail7_cents
         FROM daily""",
    "q93_scd2_merge" ->
      """WITH open_now AS (
           SELECT c_custkey, c_mktsegment, c_nationkey,
             DATE '1992-01-01' AS effective_from,
             CAST(NULL AS DATE) AS effective_to, true AS is_current
           FROM customer),
         closed_hist AS (
           SELECT c_custkey, 'OLD-' || c_mktsegment AS c_mktsegment,
             c_nationkey, DATE '1990-01-01' AS effective_from,
             DATE '1992-01-01' AS effective_to, false AS is_current
           FROM customer WHERE c_custkey % 7 = 0),
         upd AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 6 = 0 THEN 'MOVED' ELSE c_mktsegment END
               AS c_mktsegment,
             c_nationkey
           FROM customer WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey + 1000000, 'NEWSEG', 99
           FROM customer WHERE c_custkey % 10 = 0),
         j AS (
           SELECT o.c_custkey, o.c_mktsegment, o.c_nationkey,
             o.effective_from, o.effective_to, o.is_current,
             u.c_custkey AS u_key, u.c_mktsegment AS u_seg,
             u.c_nationkey AS u_nat,
             ((o.c_mktsegment IS DISTINCT FROM u.c_mktsegment)
              OR (o.c_nationkey IS DISTINCT FROM u.c_nationkey)) AS changed
           FROM open_now o FULL OUTER JOIN upd u
             ON o.c_custkey = u.c_custkey)
         SELECT c_custkey, c_mktsegment, c_nationkey,
           effective_from, effective_to, is_current FROM closed_hist
         UNION ALL
         SELECT c_custkey, c_mktsegment, c_nationkey,
           effective_from, effective_to, is_current
         FROM j WHERE c_custkey IS NOT NULL AND (u_key IS NULL OR NOT changed)
         UNION ALL
         SELECT c_custkey, c_mktsegment, c_nationkey,
           effective_from, DATE '1995-06-01', false
         FROM j WHERE c_custkey IS NOT NULL AND u_key IS NOT NULL AND changed
         UNION ALL
         SELECT u_key, u_seg, u_nat,
           DATE '1995-06-01', CAST(NULL AS DATE), true
         FROM j WHERE u_key IS NOT NULL AND (c_custkey IS NULL OR changed)""",
    "q105_scd2_incremental" ->
      """WITH open0 AS (
           SELECT c_custkey, c_mktsegment, c_nationkey,
             DATE '1992-01-01' AS effective_from,
             CAST(NULL AS DATE) AS effective_to, true AS is_current
           FROM customer),
         upd1 AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 6 = 0 THEN 'MOVED' ELSE c_mktsegment END
               AS c_mktsegment,
             c_nationkey
           FROM customer WHERE c_custkey % 3 = 0),
         j1 AS (
           SELECT o.c_custkey, o.c_mktsegment, o.c_nationkey,
             o.effective_from, o.effective_to, o.is_current,
             u.c_custkey AS u_key, u.c_mktsegment AS u_seg,
             u.c_nationkey AS u_nat,
             ((o.c_mktsegment IS DISTINCT FROM u.c_mktsegment)
              OR (o.c_nationkey IS DISTINCT FROM u.c_nationkey)) AS changed
           FROM open0 o FULL OUTER JOIN upd1 u ON o.c_custkey = u.c_custkey),
         day1 AS (
           SELECT c_custkey, c_mktsegment, c_nationkey,
             effective_from, effective_to, is_current
           FROM j1 WHERE c_custkey IS NOT NULL AND (u_key IS NULL OR NOT changed)
           UNION ALL
           SELECT c_custkey, c_mktsegment, c_nationkey,
             effective_from, DATE '1995-06-01', false
           FROM j1 WHERE c_custkey IS NOT NULL AND u_key IS NOT NULL AND changed
           UNION ALL
           SELECT u_key, u_seg, u_nat, DATE '1995-06-01',
             CAST(NULL AS DATE), true
           FROM j1 WHERE u_key IS NOT NULL AND (c_custkey IS NULL OR changed)),
         upd2 AS (
           SELECT c_custkey, 'MOVED2' AS c_mktsegment, c_nationkey
           FROM customer WHERE c_custkey % 4 = 0),
         open1 AS (SELECT * FROM day1 WHERE is_current),
         j2 AS (
           SELECT o.c_custkey, o.c_mktsegment, o.c_nationkey,
             o.effective_from, o.effective_to, o.is_current,
             u.c_custkey AS u_key, u.c_mktsegment AS u_seg,
             u.c_nationkey AS u_nat,
             ((o.c_mktsegment IS DISTINCT FROM u.c_mktsegment)
              OR (o.c_nationkey IS DISTINCT FROM u.c_nationkey)) AS changed
           FROM open1 o FULL OUTER JOIN upd2 u ON o.c_custkey = u.c_custkey)
         SELECT c_custkey, c_mktsegment, c_nationkey,
           effective_from, effective_to, is_current
         FROM day1 WHERE NOT is_current
         UNION ALL
         SELECT c_custkey, c_mktsegment, c_nationkey,
           effective_from, effective_to, is_current
         FROM j2 WHERE c_custkey IS NOT NULL AND (u_key IS NULL OR NOT changed)
         UNION ALL
         SELECT c_custkey, c_mktsegment, c_nationkey,
           effective_from, DATE '1996-01-01', false
         FROM j2 WHERE c_custkey IS NOT NULL AND u_key IS NOT NULL AND changed
         UNION ALL
         SELECT u_key, u_seg, u_nat, DATE '1996-01-01',
           CAST(NULL AS DATE), true
         FROM j2 WHERE u_key IS NOT NULL AND (c_custkey IS NULL OR changed)""",
    // oracle is the EXACT inverted-index all-pairs join — no prefix or
    // length filtering — so it independently cross-checks that the
    // operator's pruning loses no true pair
    "q106_set_similarity_join" -> s"""
      WITH t AS (
        SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE $DuckTokens END AS ts
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
                 list_transform(range(1, len(ts) - 1),
                   i -> array_to_string(ts[i:i+2], ' ')),
                 x -> md5_number_lower(x))) AS hs
        FROM t WHERE len(ts) >= 3),
      n AS (SELECT doc_id, len(hs) AS n FROM sh WHERE len(hs) > 0),
      e AS (SELECT doc_id, unnest(hs) AS g FROM sh WHERE len(hs) > 0),
      i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(count(*) AS BIGINT) AS inter_size
            FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
      SELECT doc_a, doc_b, inter_size,
        CAST(na.n + nb.n - inter_size AS BIGINT) AS union_size,
        CAST((1000000 * inter_size) // (na.n + nb.n - inter_size) AS BIGINT)
          AS jac_ppm
      FROM i
      JOIN n na ON na.doc_id = i.doc_a
      JOIN n nb ON nb.doc_id = i.doc_b
      WHERE 100 * inter_size >= 70 * (na.n + nb.n - inter_size)""",
    // oracle is the EXACT directed inverted-index all-pairs join — no
    // one-sided prefix or size gate — independently cross-checking
    // that the operator's pruning loses no true directed pair
    "q108_containment_join" -> s"""
      WITH t AS (
        SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE $DuckTokens END AS ts
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
                 list_transform(range(1, len(ts) - 1),
                   i -> array_to_string(ts[i:i+2], ' ')),
                 x -> md5_number_lower(x))) AS hs
        FROM t WHERE len(ts) >= 3),
      n AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n FROM sh
            WHERE len(hs) > 0),
      e AS (SELECT doc_id, unnest(hs) AS g FROM sh WHERE len(hs) > 0),
      i AS (SELECT a.doc_id AS did, b.doc_id AS cid,
              CAST(count(*) AS BIGINT) AS inter_size
            FROM e a JOIN e b ON a.g = b.g AND a.doc_id <> b.doc_id
            GROUP BY 1, 2)
      SELECT did AS doc_id, cid AS container_id, inter_size,
        na.n AS n_doc, nb.n AS n_container,
        CAST((1000000 * inter_size) // na.n AS BIGINT) AS containment_ppm
      FROM i
      JOIN n na ON na.doc_id = i.did
      JOIN n nb ON nb.doc_id = i.cid
      WHERE 100 * inter_size >= 80 * na.n""",
    "q107_weighted_sample" ->
      """WITH p AS (
           SELECT doc_id, lang, n_chars,
             (md5_number_lower('wsamp|' || CAST(doc_id AS VARCHAR))
              & 9223372036854775807) % 1000000 + 1 AS u_ppm
           FROM documents WHERE n_chars > 0),
         k AS (
           SELECT doc_id, lang, n_chars,
             (CAST(round((ln(1000000.0) - ln(CAST(u_ppm AS DOUBLE))) * 1e6)
                   AS BIGINT) * 1000000) // n_chars AS wk
           FROM p),
         r AS (
           SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY wk, doc_id)
               AS sample_rank
           FROM k)
         SELECT doc_id, lang, n_chars, CAST(sample_rank AS INT) AS sample_rank
         FROM r WHERE sample_rank <= 20""",
    "q94_cdc_apply" ->
      """WITH log AS (
           SELECT user_id, event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_cents,
             CASE WHEN event_id % 13 = 0 THEN 'D' ELSE 'U' END AS op
           FROM events),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY event_id DESC, op DESC) AS rn
           FROM log)
         SELECT user_id, event_id, event_type, value_cents, op
         FROM r WHERE rn = 1 AND op <> 'D'""",
    "q95_split_assign" ->
      """SELECT doc_id, lang,
           CASE WHEN b < 900000 THEN 'train'
                WHEN b < 950000 THEN 'val'
                ELSE 'test' END AS split
         FROM (
           SELECT doc_id, lang,
             (md5_number_lower('split|' || CAST(doc_id AS VARCHAR))
              & 9223372036854775807) % 1000000 AS b
           FROM documents)""",
    "q96_source_overlap" -> s"""
      WITH d AS (
        SELECT DISTINCT source AS src,
          unnest(list_distinct(list_transform($DuckShingles,
            x -> md5_number_lower(x)))) AS h
        FROM documents),
      sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY src),
      pairs AS (
        SELECT a.src AS src_a, b.src AS src_b,
          CAST(count(*) AS BIGINT) AS n_shared
        FROM d a JOIN d b ON a.h = b.h AND a.src < b.src
        GROUP BY 1, 2)
      SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_shared,
        round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6)
          AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.src = src_a
      JOIN sizes sb ON sb.src = src_b""",
    "q97_multiprobe_ann" -> s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      b AS (SELECT vec_id, e, ${duckSrpBucket("e")} AS bucket FROM v),
      q AS (SELECT vec_id AS query_id, e AS qv, bucket FROM b WHERE vec_id < 20),
      probes AS (
        SELECT query_id, xor(bucket, f) AS bucket
        FROM q, (SELECT unnest([0, 1, 2, 4, 8]) AS f)),
      cand AS (
        SELECT DISTINCT query_id, c.vec_id AS neighbor_id
        FROM probes p JOIN b c ON p.bucket = c.bucket
        WHERE p.query_id <> c.vec_id),
      scored AS (
        SELECT cand.query_id, cand.neighbor_id,
          list_dot_product(q2.qv, c.e) /
            (sqrt(list_dot_product(q2.qv, q2.qv)) *
             sqrt(list_dot_product(c.e, c.e))) AS sim
        FROM cand
        JOIN q q2 ON q2.query_id = cand.query_id
        JOIN v c ON c.vec_id = cand.neighbor_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
             round(sim, 4) AS cos_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS rnk FROM scored)
      WHERE rnk <= 5""",
    "q98_source_diversity" -> s"""
      WITH base AS (
        SELECT source, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
             ELSE $DuckTokens END AS t
        FROM documents),
      bg AS (
        SELECT source, CASE WHEN len(t) < 2 THEN []::VARCHAR[]
             ELSE list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i + 1]) END AS b
        FROM base),
      ds AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(t)) AS BIGINT) AS total_tokens
        FROM base GROUP BY source),
      uni AS (
        SELECT source, CAST(count(*) AS BIGINT) AS distinct_tokens
        FROM (SELECT DISTINCT source, unnest(t) AS g FROM base)
        GROUP BY source),
      bi AS (
        SELECT source, CAST(count(*) AS BIGINT) AS distinct_bigrams
        FROM (SELECT DISTINCT source, unnest(b) AS g FROM bg)
        GROUP BY source)
      SELECT ds.source, n_docs, total_tokens,
        coalesce(distinct_tokens, 0) AS distinct_tokens,
        coalesce(distinct_bigrams, 0) AS distinct_bigrams,
        round(CAST(coalesce(distinct_tokens, 0) AS DOUBLE) /
          greatest(total_tokens, 1), 6) AS type_token_ratio
      FROM ds LEFT JOIN uni USING (source) LEFT JOIN bi USING (source)""",
    "q99_curriculum_buckets" -> s"""
      WITH base AS (
        SELECT doc_id, text,
          CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE $DuckTokens END AS toks
        FROM documents),
      st AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          round((CASE WHEN length(text) BETWEEN 100 AND 10000
                      THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) +
                (CASE WHEN CAST(len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS DOUBLE)
                           <= length(text) * 0.1
                      THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) +
                (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE CAST(len(list_filter(toks,
                              x -> x IN ('the','a','an','and','or','of','to','in','is'))) AS DOUBLE)
                              / len(toks) END)
                      BETWEEN 0.01 AND 0.6
                      THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 1) AS q
        FROM base),
      hist AS (SELECT n_chars, CAST(count(*) AS BIGINT) AS c FROM st GROUP BY n_chars),
      cum AS (SELECT n_chars, sum(c) OVER (ORDER BY n_chars) AS cum FROM hist),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM st),
      cuts AS (
        SELECT ${(1 until 10).map(i =>
          s"min(CASE WHEN cum * 10 >= n * $i THEN n_chars END) AS c$i")
          .mkString(",\n               ")}
        FROM cum, tot)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        CAST(sum(CAST(round(q * 10) AS BIGINT)) * 100 // count(*) AS BIGINT)
          AS avg_quality_milli
      FROM (
        SELECT st.*,
          1 + ${(1 until 10).map(i =>
            s"(CASE WHEN n_chars > c$i THEN 1 ELSE 0 END)").mkString(" + ")}
            AS bucket
        FROM st, cuts)
      GROUP BY bucket""",
    "q100_cross_perplexity" ->
      """WITH tr AS (
           SELECT CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
           FROM documents WHERE doc_id % 5 <> 0),
         cnt AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(toks) AS tok FROM tr) GROUP BY tok),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM cnt),
         ev AS (
           SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
           FROM documents WHERE doc_id % 5 = 0),
         etf AS (
           SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(toks) AS tok FROM ev) GROUP BY 1, 2),
         scored AS (
           SELECT e.doc_id, e.tf, c.cnt,
             CAST(round((ln(CAST(t.total_tokens AS DOUBLE)) -
               ln(CAST(c.cnt AS DOUBLE))) * 1e6) AS BIGINT) AS nlp_micros
           FROM etf e LEFT JOIN cnt c ON e.tok = c.tok, tot t)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN cnt IS NULL THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(sum(CASE WHEN cnt IS NOT NULL THEN nlp_micros * tf END) //
             nullif(sum(tf) - sum(CASE WHEN cnt IS NULL THEN tf ELSE 0 END), 0)
             AS BIGINT) AS avg_nlp_micros
         FROM scored GROUP BY doc_id""",
    "q101_bpe_train" -> DuckBpeSql,
    "q104_bpe_tokenize" -> DuckBpeTokenizeSql,
    "q120_bpe_token_ids" -> DuckBpeTokenIdsSql,
    "q121_tokenized_shards" -> DuckTokenizedShardsSql,
    // q123: the q120 token-id chain placed into fixed-capacity
    // sequences — the q54 pack arithmetic at TOKEN granularity
    // (global_pos = bin_offset + doc-relative pos; seq = div/mod 32)
    "q123_token_shards" -> s"""
      WITH $DuckBpeTokenIdCtes,
      dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
             FROM tokid GROUP BY doc_id),
      pg AS (SELECT doc_id, n_tokens,
          (md5_number_lower('pack|' || CAST(doc_id AS VARCHAR))
             & 9223372036854775807) % 8 AS pack_group
        FROM dc),
      po AS (SELECT doc_id, pack_group,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY pack_group
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS bin_offset
        FROM pg),
      placed AS (
        SELECT po.pack_group, (po.bin_offset + t.pos) // 32 AS seq_id,
          (po.bin_offset + t.pos) % 32 AS pos, t.token_id
        FROM tokid t JOIN po USING (doc_id))
      SELECT CAST(pack_group AS BIGINT) AS pack_group,
        CAST(seq_id AS BIGINT) AS seq_id,
        CAST(pos AS BIGINT) AS pos, token_id
      FROM placed""",
    // q128: q123's placement relation reduced to per-(sequence, doc)
    // [min, max] position spans — the attention-boundary relation
    "q128_doc_spans" -> s"""
      WITH $DuckBpeTokenIdCtes,
      dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
             FROM tokid GROUP BY doc_id),
      pg AS (SELECT doc_id, n_tokens,
          (md5_number_lower('pack|' || CAST(doc_id AS VARCHAR))
             & 9223372036854775807) % 8 AS pack_group
        FROM dc),
      po AS (SELECT doc_id, pack_group,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY pack_group
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS bin_offset
        FROM pg),
      placed AS (
        SELECT po.pack_group, (po.bin_offset + t.pos) // 32 AS seq_id,
          (po.bin_offset + t.pos) % 32 AS pos, t.doc_id
        FROM tokid t JOIN po USING (doc_id))
      SELECT CAST(pack_group AS BIGINT) AS pack_group,
        CAST(seq_id AS BIGINT) AS seq_id, doc_id,
        CAST(min(pos) AS BIGINT) AS span_start,
        CAST(max(pos) AS BIGINT) AS span_end
      FROM placed GROUP BY 1, 2, 3""",
    // q131/q132: the persisted shard store's read-back re-derived as a
    // REBUILD over the whole corpus — q126's chain restricted to FULL
    // sequences (dropRemainder stores withhold partial tails into the
    // carry) and keyed under the store's seed; shard_pos is the
    // reader's ascending-(skey, group, seq) order. That this SQL
    // hash-matches a store written as base + carry-continued APPEND is
    // the append ≡ rebuild theorem, proven cross-engine.
    "q131_shard_store_append" -> duckStoreRebuildSql("s42"),
    "q132_shard_store_epoch" -> duckStoreRebuildSql("s43"),
    // q134: distributed whole-corpus k-means (2 iterations, nlist=8) —
    // no embedded constants; the oracle recomputes the trainer
    "q134_kmeans_distributed" -> duckKmeansSql(nlist = 8, iters = 2),
    // q144: the per-half (product) distributed trainer — two q134
    // chains, one per half slice, union'd under a half label
    "q144_imi_kmeans_distributed" -> duckImiKmeansSql(kPerHalf = 4, iters = 2),
    // q147: the corpus-trained IMI serve, zero embedded constants
    "q147_imi_corpus_trained_ann" ->
      duckImiCorpusTrainedSql(kPerHalf = 4, iters = 2, nprobe = 4, k = 5),
    // q149: the WET round-trip — expected records derived straight
    // from documents (writeWet's headers are deterministic; the
    // reader returns each payload verbatim)
    "q149_wet_roundtrip" -> """
      SELECT 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        '2026-08-16T00:00:00Z' AS warc_date,
        text AS payload
      FROM documents""",
    // q150: WET file → records → extraction, composed — the q145
    // chain over the same planted pages, plus the record URI
    "q150_wet_extract" -> s"""
      SELECT 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        ${duckExtractExpr(DuckPlantedHtml)} AS main_text
      FROM documents""",
    // q151: raw WARC response records — the q145 extraction chain over
    // the planted bodies plus the deterministic HTTP columns the
    // fixture writer emits (status 200, the fixed Content-Type)
    "q151_warc_responses" -> s"""
      SELECT 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        CAST(200 AS INT) AS http_status,
        'text/html; charset=UTF-8' AS content_type,
        ${duckExtractExpr(DuckPlantedHtml)} AS main_text
      FROM documents""",
    // q153: the flagship composed chain — extraction, segment dedup,
    // curation, and perplexity bucketing all from the SAME factored
    // generators their standalone oracles use (q145/q60/q39/q119).
    "q153_ccnet_pipeline" -> duckCrawlCurateSql(perLanguage = false),
    // q157: the identical composition entered from the RAW-WARC front
    // (response records → body). The fixture writer plants the same
    // pages and the reader's body parse is identity on them, so the
    // oracle IS the q153 oracle — one generator, by construction
    "q157_warc_crawl_curate" -> duckCrawlCurateSql(perLanguage = false),
    // q158: the composition with CCNet's PER-LANGUAGE buckets — the
    // partitioned bucket generator over the lang-joined scores
    "q158_crawl_curate_by_lang" -> duckCrawlCurateSql(perLanguage = true),
    // q155: the streaming front end's batch twin — extraction over the
    // WET payloads (identity on the planted pages), the q15 stats
    // generator over the extracted relation, the quality gate, text
    // joined back. doc_id here is the record URI (the stream's natural
    // key)
    "q155_crawl_ingest_backfill" -> duckCrawlIngestSql,
    // q156: per-language perplexity buckets — the bp/ts generators
    // joined, the bucket generator PARTITIONED by lang_pred
    "q156_ppl_buckets_by_lang" -> s"""
      WITH ${duckBigramPplCtes("documents")},
      ${duckTextStatsCtes("documents")},
      langscored AS (
        SELECT s.doc_id, s.avg_nlp_micros, t.lang_pred
        FROM bp_score s JOIN ts_out t USING (doc_id)),
      ${duckPplBucketCtes("langscored", Seq("lang_pred"))}
      SELECT doc_id, lang_pred, avg_nlp_micros, ppl_bucket
      FROM pb_bucket""",
    // q161: the URL front — expected normalized URL and domain derived
    // analytically (userinfo/default-port/fragment/case all normalize
    // away; the NON-default ':80' under https is KEPT — elision is
    // scheme-relative; the path keeps case), URL dedup = min doc_id
    // per page, cap = the q55 rank arithmetic per derived domain
    "q161_url_front" -> """
      WITH u AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 AND doc_id > 0 THEN doc_id - 1
               ELSE doc_id END AS pid
        FROM documents),
      d AS (SELECT min(doc_id) AS doc_id, pid FROM u GROUP BY pid),
      k AS (
        SELECT doc_id,
          'site' || CAST(pid % 17 AS VARCHAR) || '.example.com' AS domain,
          'https://www.site' || CAST(pid % 17 AS VARCHAR) ||
            '.example.com' ||
            CASE WHEN pid % 13 = 5 THEN ':80' ELSE '' END ||
            '/P/' || CAST(pid AS VARCHAR) AS url_norm
        FROM d)
      SELECT doc_id, domain, url_norm FROM (
        SELECT *, row_number() OVER (PARTITION BY domain
          ORDER BY (md5_number_lower('cap|' || CAST(doc_id AS VARCHAR))
                    & 9223372036854775807) % 1000000, doc_id) AS rn
        FROM k) WHERE rn <= 15""",
    // q162: the q161 front with the planted blocklist — site3/site8
    // excluded ANALYTICALLY (pid % 17 ∉ {3, 8}); everything else is
    // the q161 derivation verbatim, cap slots computed AFTER the gate
    "q162_url_blocklist" -> """
      WITH u AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 AND doc_id > 0 THEN doc_id - 1
               ELSE doc_id END AS pid
        FROM documents),
      d AS (SELECT min(doc_id) AS doc_id, pid FROM u
            WHERE pid % 17 NOT IN (3, 8) GROUP BY pid),
      k AS (
        SELECT doc_id,
          'site' || CAST(pid % 17 AS VARCHAR) || '.example.com' AS domain,
          'https://www.site' || CAST(pid % 17 AS VARCHAR) ||
            '.example.com' ||
            CASE WHEN pid % 13 = 5 THEN ':80' ELSE '' END ||
            '/P/' || CAST(pid AS VARCHAR) AS url_norm
        FROM d)
      SELECT doc_id, domain, url_norm FROM (
        SELECT *, row_number() OVER (PARTITION BY domain
          ORDER BY (md5_number_lower('cap|' || CAST(doc_id AS VARCHAR))
                    & 9223372036854775807) % 1000000, doc_id) AS rn
        FROM k) WHERE rn <= 15""",
    // q163: per-registrable caps — the registrable label, the
    // www-stripped host label, and the normalized URL all derived
    // analytically from the subdomain-family arithmetic; the cap rank
    // partitions by the REGISTRABLE label
    "q163_url_registrable_cap" -> """
      WITH k AS (
        SELECT doc_id,
          'corp' || CAST(doc_id % 7 AS VARCHAR) ||
            CASE WHEN doc_id % 2 = 0 THEN '.co.uk' ELSE '.com' END
            AS registrable_domain,
          CASE WHEN doc_id % 4 = 1 THEN 'blog.'
               WHEN doc_id % 4 = 2 THEN 'shop.'
               ELSE '' END ||
            'corp' || CAST(doc_id % 7 AS VARCHAR) ||
            CASE WHEN doc_id % 2 = 0 THEN '.co.uk' ELSE '.com' END
            AS domain,
          'http://' ||
            CASE WHEN doc_id % 4 = 0 THEN 'www.'
                 WHEN doc_id % 4 = 1 THEN 'blog.'
                 WHEN doc_id % 4 = 2 THEN 'shop.'
                 ELSE '' END ||
            'corp' || CAST(doc_id % 7 AS VARCHAR) ||
            CASE WHEN doc_id % 2 = 0 THEN '.co.uk' ELSE '.com' END ||
            '/page/' || CAST(doc_id AS VARCHAR) AS url_norm
        FROM documents)
      SELECT doc_id, registrable_domain, domain, url_norm FROM (
        SELECT *, row_number() OVER (PARTITION BY registrable_domain
          ORDER BY (md5_number_lower('cap|' || CAST(doc_id AS VARCHAR))
                    & 9223372036854775807) % 1000000, doc_id) AS rn
        FROM k) WHERE rn <= 20""",
    // q160: Content-Length framing — every payload verbatim from
    // documents, INCLUDING the planted in-payload marker
    "q160_wet_exact_framing" -> s"""
      SELECT 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        CASE WHEN doc_id % 7 = 0
             THEN text || chr(10) || 'WARC/1.0' || chr(10) || '$MarkerTail'
             ELSE text END AS payload
      FROM documents""",
    // q164: response records — status/content-type are
    // the deterministic fixture constants, the body is the planted
    // page (PLUS the embedded marker for doc_id % 7) verbatim
    "q164_warc_responses_exact" -> s"""
      SELECT 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        200 AS http_status,
        'text/html; charset=UTF-8' AS content_type,
        CASE WHEN doc_id % 7 = 0
             THEN $DuckPlantedHtml || chr(10) || 'WARC/1.0' ||
               chr(10) || '$MarkerTail'
             ELSE $DuckPlantedHtml END AS body
      FROM documents""",
    // q166: request records — every column from the fixture arithmetic
    "q166_warc_requests" -> """
      SELECT 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        'GET' AS http_method,
        '/doc/' || CAST(doc_id AS VARCHAR) AS target,
        'HTTP/1.1' AS protocol,
        'Host: example.com' || chr(10) || 'User-Agent: graft-crawler'
          AS http_headers,
        '' AS body
      FROM documents""",
    // q167: metadata sidecar — the three deterministic pairs per doc
    "q167_warc_metadata" -> """
      SELECT 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        k AS key, v AS value
      FROM documents, (VALUES ('fetchTimeMs'), ('charset'),
        ('languages-cld2')) AS t(k),
      LATERAL (SELECT CASE k
          WHEN 'fetchTimeMs' THEN CAST(doc_id % 1000 AS VARCHAR)
          WHEN 'charset' THEN 'UTF-8'
          ELSE 'en' END AS v)""",
    // q170: the segment inventory — counts and payload volume
    // (marker tails included) straight from documents, plus the one
    // warcinfo record the fixture writer leads with
    "q170_warc_inventory" -> s"""
      SELECT CAST(count(*) + 1 AS BIGINT) AS n_records,
        CAST(count(*) AS BIGINT) AS n_conversion,
        CAST(0 AS BIGINT) AS n_response,
        CAST(1 AS BIGINT) AS n_other,
        CAST(sum(length(CASE WHEN doc_id % 7 = 0
            THEN text || chr(10) || 'WARC/1.0' || chr(10) || '$MarkerTail'
            ELSE text END)) + length('software: graft') AS BIGINT)
          AS payload_chars
      FROM documents""",
    // q172: the cross-dump verdict re-derived from the page-key
    // arithmetic alone — unseen pages, min id within the batch
    "q172_url_index_crossdump" -> """
      WITH d1 AS (SELECT DISTINCT doc_id % 29 AS p FROM documents
                  WHERE doc_id % 3 = 0),
      d2 AS (SELECT doc_id, doc_id % 47 AS p FROM documents
             WHERE doc_id % 3 <> 0),
      k AS (SELECT doc_id, p, min(doc_id) OVER (PARTITION BY p) AS mn
            FROM d2 WHERE p NOT IN (SELECT p FROM d1))
      SELECT doc_id,
        'http://site' || CAST(p AS VARCHAR) || '.example.com/P/' ||
          CAST(p AS VARCHAR) AS url_norm
      FROM k WHERE doc_id = mn""",
    // q179: the discovery verdict — fresh page keys at the min
    // discovering doc, host labels from the shared residue arithmetic
    "q179_discovery_front" -> """
      WITH seen AS (SELECT DISTINCT doc_id % 29 AS p FROM documents
                    WHERE doc_id % 3 = 0),
      disc AS (SELECT doc_id, doc_id % 37 AS p FROM documents
               WHERE doc_id % 3 <> 0),
      k AS (SELECT doc_id, p, min(doc_id) OVER (PARTITION BY p) AS mn
            FROM disc WHERE p NOT IN (SELECT p FROM seen))
      SELECT doc_id,
        'http://m' || CAST(p % 5 AS VARCHAR) || '.example.com/p/' ||
          CAST(p AS VARCHAR) AS url_norm
      FROM k WHERE doc_id = mn""",
    // q171: relation-driven registrable labels — every subdomain depth
    // (0/1/2 labels) collapses onto corpN + the tld family, derived
    // analytically; 'web.zz' resolves at three labels ONLY because the
    // relation says so
    "q171_registrable_psl" -> """
      SELECT doc_id,
        'corp' || CAST(doc_id % 7 AS VARCHAR) ||
          CASE WHEN doc_id % 2 = 0 THEN '.web.zz' ELSE '.com' END
          AS registrable_domain
      FROM documents""",
    // q173: weighted host PageRank — edge weights from the residue
    // counts (the s ≡ 7 family collision doubles its edge's weight),
    // contributions in the decomposed w·⌊rank/W⌋ + ⌊(rank mod W)·w/W⌋
    // arithmetic, 5 iterations unrolled in completion form
    "q173_weighted_host_rank" -> {
      val iters = (1 to 5).map { i =>
        s"""r$i AS (SELECT n.node,
              CAST(150000 + (coalesce(c.in_sum, 0) * 85) // 100 AS BIGINT)
                AS rank
            FROM nodes n LEFT JOIN (
              SELECT e.dst AS node,
                sum(e.w * (r.rank // e.wsum)
                  + (e.w * (r.rank % e.wsum)) // e.wsum) AS in_sum
              FROM e JOIN r${i - 1} r ON e.src = r.node
              GROUP BY e.dst) c USING (node))"""
      }.mkString(",\n      ")
      s"""
      WITH d AS (SELECT doc_id % 9 AS s, CAST(count(*) AS BIGINT) AS c
                 FROM documents GROUP BY doc_id % 9),
      eraw AS (
        SELECT s AS src, (s + 1) % 9 AS dst, c AS w FROM d
        UNION ALL
        SELECT s, (2 * s + 3) % 9, c FROM d WHERE (2 * s + 3) % 9 <> s),
      e0 AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w
             FROM eraw GROUP BY src, dst),
      ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum
             FROM e0 GROUP BY src),
      e AS (SELECT e0.src, e0.dst, e0.w, ws.wsum
            FROM e0 JOIN ws USING (src)),
      nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
      $iters
      SELECT 'host' || CAST(node AS VARCHAR) || '.example.org' AS domain,
        rank AS rank_micro FROM r5"""
    },
    // q177: the frontier — robots and blocklist verdicts analytic,
    // cap/slot by the q55 rank arithmetic, priority from the SHARED
    // host-rank generator
    "q177_crawl_frontier" -> s"""
      WITH $DuckHostRankCtes,
      kept AS (
        SELECT doc_id, doc_id % 9 AS h FROM documents
        WHERE doc_id % 4 <> 0 AND doc_id % 9 NOT IN (2, 5)),
      slotted AS (
        SELECT doc_id, h,
          row_number() OVER (PARTITION BY h
            ORDER BY (md5_number_lower('cap|' || CAST(doc_id AS VARCHAR))
                      & 9223372036854775807) % 1000000, doc_id)
            AS fetch_slot
        FROM kept)
      SELECT s.doc_id,
        'http://host' || CAST(s.h AS VARCHAR) || '.example.org/b/' ||
          CAST(s.doc_id AS VARCHAR) AS url_norm,
        'host' || CAST(s.h AS VARCHAR) || '.example.org' AS domain,
        r.rank AS rank_micro,
        s.fetch_slot
      FROM slotted s JOIN r5 r ON r.node = s.h
      WHERE s.fetch_slot <= 30""",
    // q178: sitemap entries — both per-doc urls analytic (the padded
    // loc trims, the XML entity decodes, the loc-less entry vanishes)
    "q178_sitemap_urls" -> """
      SELECT doc_id,
        'http://s' || CAST(doc_id % 6 AS VARCHAR) || '.example.com/page/'
          || CAST(doc_id AS VARCHAR) AS loc,
        '2026-08-0' || CAST(doc_id % 9 + 1 AS VARCHAR) AS lastmod
      FROM documents
      UNION ALL
      SELECT doc_id,
        'http://s' || CAST(doc_id % 6 AS VARCHAR) || '.example.com/alt/'
          || CAST(doc_id AS VARCHAR) || '?a=1&b=2',
        ''
      FROM documents""",
    // q175: the parsed rule set — wildcard rules for every domain,
    // agent-group rules where the group exists (even d); the empty
    // Disallow emits nothing
    "q175_robots_rules" -> """
      WITH d AS (SELECT DISTINCT doc_id % 7 AS d FROM documents)
      SELECT 'site' || CAST(d AS VARCHAR) || '.example.com' AS domain,
        '/p' || CAST(d AS VARCHAR) AS path_prefix
      FROM d
      UNION ALL
      SELECT 'site' || CAST(d AS VARCHAR) || '.example.com',
        '/g' || CAST(d AS VARCHAR)
      FROM d WHERE d % 2 = 0""",
    // q176: the gate verdict — /p paths always blocked, /g paths
    // blocked on even domains (where the graftbot group exists),
    // everything else kept
    "q176_robots_gate" -> """
      SELECT doc_id, url FROM (
        SELECT doc_id,
          'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ||
            CASE WHEN doc_id % 5 = 0
                 THEN '/p' || CAST(doc_id % 7 AS VARCHAR) || '/deep'
                 WHEN doc_id % 5 = 1
                 THEN '/g' || CAST(doc_id % 7 AS VARCHAR) || 'x'
                 ELSE '/ok/' || CAST(doc_id AS VARCHAR) END AS url
        FROM documents)
      WHERE NOT (doc_id % 5 = 0
        OR (doc_id % 5 = 1 AND (doc_id % 7) % 2 = 0))""",
    // q174: anchor text — both anchors' href and cleaned label derived
    // from the residue arithmetic (entity decoded, markup stripped,
    // whitespace collapsed)
    "q174_anchor_text" -> """
      SELECT doc_id,
        'http://t' || CAST(doc_id % 13 AS VARCHAR) || '.example.com/x'
          AS href,
        'Read & visit site ' || CAST(doc_id % 13 AS VARCHAR) || ' now'
          AS anchor_text
      FROM documents
      UNION ALL
      SELECT doc_id,
        'https://u' || CAST(doc_id % 13 AS VARCHAR) || '.example.org/y',
        'plain label'
      FROM documents""",
    // q168: host link graph — both anchor families derived from the
    // residue arithmetic; the self-link family drops its s ≡ 6 row
    "q168_link_graph" -> """
      WITH d AS (SELECT doc_id, doc_id % 9 AS s FROM documents),
      e AS (
        SELECT 'host' || CAST(s AS VARCHAR) || '.example.org' AS src_domain,
          'host' || CAST((s + 1) % 9 AS VARCHAR) || '.example.org'
            AS dst_domain
        FROM d
        UNION ALL
        SELECT 'host' || CAST(s AS VARCHAR) || '.example.org',
          'host' || CAST((2 * doc_id + 3) % 9 AS VARCHAR) || '.example.org'
        FROM d WHERE (2 * doc_id + 3) % 9 <> s)
      SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n_links
      FROM e GROUP BY src_domain, dst_domain""",
    // q169: crawl-frontier host PageRank — 5 iterations unrolled in
    // the COMPLETION form over the distinct residue edges (a node
    // with no in-edges keeps its damped base rank each round, the
    // engine's completion join; no dangling nodes by construction —
    // every residue has out-edges). The CTE core is shared with q177.
    "q169_host_rank" -> s"""
      WITH $DuckHostRankCtes
      SELECT 'host' || CAST(node AS VARCHAR) || '.example.org' AS domain,
        rank AS rank_micro FROM r5""",
    // q145: HTML → main-text extraction over the planted pages
    "q145_html_extract" -> s"""
      SELECT doc_id, mt AS main_text,
        CASE WHEN length(mt) = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(len(string_split(mt, chr(10))) AS BIGINT) END AS n_lines,
        CAST(length(mt) AS BIGINT) AS n_chars
      FROM (SELECT doc_id, ${duckExtractExpr(DuckPlantedHtml)} AS mt
            FROM documents)""",
    // q146: extraction composed in front of the q39 curation chain —
    // the SAME curated-CTE generator over the extracted relation
    "q146_extract_curate" -> s"""
      WITH extracted AS (
        SELECT doc_id, ${duckExtractExpr(DuckPlantedHtml)} AS text
        FROM documents),
      ${duckCuratedCtes("extracted")}
      SELECT doc_id, n_chars, n_tokens, quality_score, lang_pred
      FROM scored WHERE quality_score >= 0.7""",
    // q135: temperature-weighted mixture across two shard stores
    "q135_shard_store_mix" ->
      duckStoreMixSql(Seq(600000L, 300000L), numShards = 4, seed = "m1"),
    // q136: the oversampled mixture (2.4 epochs of store 0 + 0.5 of
    // store 1) — replica passes re-derived branch by branch
    "q136_shard_store_oversample" ->
      duckStoreMixOversampleSql(Seq(2400000L, 500000L), numShards = 4,
        seed = "m2"),
    // q137: attention inputs re-derived element-for-element from the
    // q128 placement relation restricted to the store's full
    // sequences — position_id = pos − its doc's min pos; cu_seqlens =
    // the ordered span starts plus the capacity terminator
    "q137_attention_inputs" -> s"""
      WITH $DuckBpeTokenIdCtes,
      dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
             FROM tokid GROUP BY doc_id),
      pg AS (SELECT doc_id, n_tokens,
          (md5_number_lower('pack|' || CAST(doc_id AS VARCHAR))
             & 9223372036854775807) % 8 AS pack_group
        FROM dc),
      po AS (SELECT doc_id, pack_group,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY pack_group
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS bin_offset
        FROM pg),
      placed AS (
        SELECT po.pack_group, (po.bin_offset + t.pos) // 32 AS seq_id,
          (po.bin_offset + t.pos) % 32 AS pos, t.doc_id
        FROM tokid t JOIN po USING (doc_id)),
      seqn AS (SELECT pack_group, seq_id, count(*) AS n
               FROM placed GROUP BY 1, 2),
      f AS (SELECT p.* FROM placed p JOIN seqn USING (pack_group, seq_id)
            WHERE n = 32),
      spans AS (SELECT pack_group, seq_id, doc_id,
                  CAST(min(pos) AS BIGINT) AS s
                FROM f GROUP BY 1, 2, 3)
      SELECT 'pos' AS kind, CAST(pack_group AS BIGINT) AS pack_group,
        CAST(seq_id AS BIGINT) AS seq_id, CAST(pos AS BIGINT) AS idx,
        CAST(pos - min(pos) OVER (PARTITION BY pack_group, seq_id, doc_id)
          AS BIGINT) AS value
      FROM f
      UNION ALL
      SELECT 'cu', CAST(pack_group AS BIGINT), CAST(seq_id AS BIGINT),
        CAST(row_number() OVER (PARTITION BY pack_group, seq_id
          ORDER BY s) - 1 AS BIGINT), s
      FROM spans
      UNION ALL
      SELECT 'cu', CAST(pack_group AS BIGINT), CAST(seq_id AS BIGINT),
        CAST(count(*) AS BIGINT), CAST(32 AS BIGINT)
      FROM spans GROUP BY pack_group, seq_id""",
    // q126: q123's sequences shuffled into reader shards — shard =
    // salted-md5(seed|group|seq) mod 4, in-shard order ascending that
    // key (ties (pack_group, seq_id))
    "q126_shuffled_shards" -> s"""
      WITH $DuckBpeTokenIdCtes,
      dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
             FROM tokid GROUP BY doc_id),
      pg AS (SELECT doc_id, n_tokens,
          (md5_number_lower('pack|' || CAST(doc_id AS VARCHAR))
             & 9223372036854775807) % 8 AS pack_group
        FROM dc),
      po AS (SELECT doc_id, pack_group,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY pack_group
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS bin_offset
        FROM pg),
      placed AS (
        SELECT po.pack_group, (po.bin_offset + t.pos) // 32 AS seq_id
        FROM tokid t JOIN po USING (doc_id)),
      seqs AS (
        SELECT pack_group, seq_id, CAST(count(*) AS BIGINT) AS n_tokens
        FROM placed GROUP BY pack_group, seq_id),
      keyed AS (
        SELECT *,
          (md5_number_lower('s42|' || CAST(pack_group AS VARCHAR) || '|' ||
             CAST(seq_id AS VARCHAR)) & 9223372036854775807) AS skey
        FROM seqs)
      SELECT CAST(skey % 4 AS BIGINT) AS shard,
        CAST(row_number() OVER (PARTITION BY skey % 4
          ORDER BY skey, pack_group, seq_id) - 1 AS BIGINT) AS shard_pos,
        CAST(pack_group AS BIGINT) AS pack_group,
        CAST(seq_id AS BIGINT) AS seq_id, n_tokens
      FROM keyed""",
    "q102_split_leakage" -> s"""
      WITH $DuckNearDupCtes,
      nd AS (
        SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
        FROM verified
        WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35)
      SELECT doc_a, doc_b, jaccard,
        CASE WHEN ba < 900000 THEN 'train' WHEN ba < 950000 THEN 'val'
             ELSE 'test' END AS split_a,
        CASE WHEN bb < 900000 THEN 'train' WHEN bb < 950000 THEN 'val'
             ELSE 'test' END AS split_b
      FROM (
        SELECT nd.*,
          (md5_number_lower('split|' || CAST(doc_a AS VARCHAR))
           & 9223372036854775807) % 1000000 AS ba,
          (md5_number_lower('split|' || CAST(doc_b AS VARCHAR))
           & 9223372036854775807) % 1000000 AS bb
        FROM nd)
      WHERE (CASE WHEN ba < 900000 THEN 'train' WHEN ba < 950000 THEN 'val'
                  ELSE 'test' END) <>
            (CASE WHEN bb < 900000 THEN 'train' WHEN bb < 950000 THEN 'val'
                  ELSE 'test' END)""",
    "q103_dataset_card" -> s"""
      WITH base AS (
        SELECT source, lang,
          CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len($DuckTokens) END AS BIGINT) AS n_tok,
          n_chars
        FROM documents)
      SELECT source, lang, CAST(grouping(source, lang) AS BIGINT) AS gid,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        CAST(min(n_chars) AS BIGINT) AS min_chars,
        CAST(max(n_chars) AS BIGINT) AS max_chars
      FROM base
      GROUP BY GROUPING SETS ((source), (lang), (source, lang), ())""",
    "q87_bpe_pairs" -> """
      WITH words AS (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents),
      wc AS (SELECT w, count(*) AS c FROM words WHERE length(w) >= 2 GROUP BY w),
      pc AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, CAST(sum(c) AS BIGINT) AS cnt
             FROM wc, LATERAL unnest(range(1, length(w))) AS t(i)
             GROUP BY 1)
      SELECT pair, cnt FROM pc ORDER BY cnt DESC, pair LIMIT 50""",
    "q17_minhash_sig" -> s"""
      WITH sh AS (SELECT doc_id, $DuckShingles AS shingles FROM documents)
      SELECT doc_id,
        ${(0 until 8).map(duckMh).mkString(",\n        ")}
      FROM sh WHERE len(shingles) > 0""",
    "q18_neardup_pairs" -> s"""
      WITH $DuckNearDupCtes
      SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
      FROM verified
      WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35""",
    "q52_neardup_pairs_capped" -> s"""
      WITH $DuckBandsCtes,
      ann AS (
        SELECT doc_id, band_id, h,
          count(*) OVER (PARTITION BY band_id, h) AS n,
          min(doc_id) OVER (PARTITION BY band_id, h) AS mn
        FROM bands),
      small_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT * FROM ann WHERE n <= 8) a
        JOIN (SELECT * FROM ann WHERE n <= 8) b
          ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id),
      star_pairs AS (
        SELECT mn AS doc_a, doc_id AS doc_b FROM ann
        WHERE n > 8 AND doc_id <> mn)
      SELECT DISTINCT doc_a, doc_b
      FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM star_pairs)""",
    "q42_neardup_components" -> s"""
      WITH RECURSIVE $DuckNearDupCtes,
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM verified
        WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35
        UNION
        SELECT doc_b, doc_a FROM verified
        WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35),
      reach(u, v) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v)
      SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u""",
    "q46_decontaminate" -> {
      def side(name: String, pred: String) = s"""
      sh_$name AS (SELECT doc_id, $DuckShingles AS shingles
                   FROM documents WHERE $pred),
      sig_$name AS (
        SELECT doc_id,
          ${(0 until 8).map(duckMh).mkString(",\n          ")}
        FROM sh_$name WHERE len(shingles) > 0),
      band_$name AS (
        SELECT doc_id, 0 AS band_id, md5(mh0 || '|' || mh1) AS h FROM sig_$name UNION ALL
        SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sig_$name UNION ALL
        SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sig_$name UNION ALL
        SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sig_$name),
      hs_$name AS (
        SELECT doc_id,
          list_distinct(list_transform(shingles, x -> md5_number_lower(x))) AS h
        FROM sh_$name)"""
      s"""
      WITH ${side("c", "doc_id % 17 <> 0")},
      ${side("b", "doc_id % 17 = 0")},
      cand AS (
        SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_doc_id
        FROM band_c c JOIN band_b b ON c.band_id = b.band_id AND c.h = b.h),
      v AS (
        SELECT p.doc_id, p.bench_doc_id,
          len(list_filter(sa.h, x -> list_contains(sb.h, x))) AS inter,
          len(sa.h) + len(sb.h)
            - len(list_filter(sa.h, x -> list_contains(sb.h, x))) AS uni
        FROM cand p
        JOIN hs_c sa ON sa.doc_id = p.doc_id
        JOIN hs_b sb ON sb.doc_id = p.bench_doc_id)
      SELECT doc_id, bench_doc_id, round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
      FROM v WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35"""
    },
    // q112 serves q46's exact semantics from a persisted index — the
    // contract is output identity, so the ground truth is the SAME SQL
    // (the paths differ in WHERE the corpus-side work happens, which an
    // oracle cannot and should not see)
    "q112_lsh_index_probe" -> {
      def side(name: String, pred: String) = s"""
      sh_$name AS (SELECT doc_id, $DuckShingles AS shingles
                   FROM documents WHERE $pred),
      sig_$name AS (
        SELECT doc_id,
          ${(0 until 8).map(duckMh).mkString(",\n          ")}
        FROM sh_$name WHERE len(shingles) > 0),
      band_$name AS (
        SELECT doc_id, 0 AS band_id, md5(mh0 || '|' || mh1) AS h FROM sig_$name UNION ALL
        SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sig_$name UNION ALL
        SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sig_$name UNION ALL
        SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sig_$name),
      hs_$name AS (
        SELECT doc_id,
          list_distinct(list_transform(shingles, x -> md5_number_lower(x))) AS h
        FROM sh_$name)"""
      s"""
      WITH ${side("c", "doc_id % 17 <> 0")},
      ${side("b", "doc_id % 17 = 0")},
      cand AS (
        SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_doc_id
        FROM band_c c JOIN band_b b ON c.band_id = b.band_id AND c.h = b.h),
      v AS (
        SELECT p.doc_id, p.bench_doc_id,
          len(list_filter(sa.h, x -> list_contains(sb.h, x))) AS inter,
          len(sa.h) + len(sb.h)
            - len(list_filter(sa.h, x -> list_contains(sb.h, x))) AS uni
        FROM cand p
        JOIN hs_c sa ON sa.doc_id = p.doc_id
        JOIN hs_b sb ON sb.doc_id = p.bench_doc_id)
      SELECT doc_id, bench_doc_id, round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
      FROM v WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35"""
    },
    // q113: both verdict reasons re-derived independently — history via
    // the q46 cross-band construction, within-batch demotion via the
    // q42 doc-level recursive closure restricted to the batch side (the
    // engine's collapsed machinery is row-identical to the doc-level
    // truth, which is exactly what q42 already proves)
    "q113_ingest_verdicts" -> {
      def side(name: String, pred: String) = s"""
      sh_$name AS (SELECT doc_id, $DuckShingles AS shingles
                   FROM documents WHERE $pred),
      sig_$name AS (
        SELECT doc_id,
          ${(0 until 8).map(duckMh).mkString(",\n          ")}
        FROM sh_$name WHERE len(shingles) > 0),
      band_$name AS (
        SELECT doc_id, 0 AS band_id, md5(mh0 || '|' || mh1) AS h FROM sig_$name UNION ALL
        SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sig_$name UNION ALL
        SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sig_$name UNION ALL
        SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sig_$name),
      hs_$name AS (
        SELECT doc_id,
          list_distinct(list_transform(shingles, x -> md5_number_lower(x))) AS h
        FROM sh_$name)"""
      s"""
      WITH RECURSIVE ${side("c", "doc_id % 17 <> 0")},
      ${side("b", "doc_id % 17 = 0")},
      histcand AS (
        SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_doc_id
        FROM band_c c JOIN band_b b ON c.band_id = b.band_id AND c.h = b.h),
      hist AS (
        SELECT DISTINCT p.doc_id FROM histcand p
        JOIN hs_c sa ON sa.doc_id = p.doc_id
        JOIN hs_b sb ON sb.doc_id = p.bench_doc_id
        WHERE len(sa.h) + len(sb.h)
                - len(list_filter(sa.h, x -> list_contains(sb.h, x))) > 0
          AND CAST(len(list_filter(sa.h, x -> list_contains(sb.h, x))) AS DOUBLE)
                / (len(sa.h) + len(sb.h)
                   - len(list_filter(sa.h, x -> list_contains(sb.h, x)))) >= 0.35),
      bpairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band_c a JOIN band_c b
          ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id),
      bverified AS (
        SELECT p.doc_a, p.doc_b,
          len(list_filter(sa.h, x -> list_contains(sb.h, x))) AS inter,
          len(sa.h) + len(sb.h)
            - len(list_filter(sa.h, x -> list_contains(sb.h, x))) AS uni
        FROM bpairs p
        JOIN hs_c sa ON sa.doc_id = p.doc_a
        JOIN hs_c sb ON sb.doc_id = p.doc_b),
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM bverified
        WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35
        UNION
        SELECT doc_b, doc_a FROM bverified
        WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35),
      reach(u, v) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v),
      comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u)
      SELECT doc_id, 'history' AS reason FROM hist
      UNION ALL
      SELECT doc_id, 'batch' AS reason FROM comp WHERE doc_id <> component_id"""
    },
    "q51_training_samples" -> s"""
      WITH curated AS ($DuckCuratedSql),
      sampled AS (
        SELECT doc_id FROM curated
        WHERE (md5_number_lower('mix|' || CAST(doc_id AS VARCHAR))
               & 9223372036854775807) % 1000000 <
          CASE lang_pred WHEN 'en' THEN 1000000
                         WHEN 'fr' THEN 500000
                         ELSE 250000 END),
      t AS (
        SELECT d.doc_id, CASE WHEN length(trim(d.text)) = 0 THEN []::VARCHAR[]
                         ELSE $DuckTokens END AS toks
        FROM documents d JOIN sampled USING (doc_id)),
      c AS (
        SELECT doc_id, toks, unnest(CASE WHEN len(toks) > 0
          THEN range(0, CAST(ceil(greatest(len(toks) - 40, 0) / 30.0) AS INT) + 1)
          ELSE []::BIGINT[] END) AS chunk_id
        FROM t)
      SELECT doc_id, chunk_id,
        CAST(len(toks[chunk_id*30+1 : chunk_id*30+40]) AS BIGINT) AS n_tokens,
        array_to_string(toks[chunk_id*30+1 : chunk_id*30+40], ' ') AS chunk_text
      FROM c""",
    "q50_histogram" ->
      """SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) / 25000) * 25000 AS BIGINT)
           AS bucket_lo,
           CAST(count(*) AS BIGINT) AS order_cnt
         FROM orders GROUP BY 1""",
    "q49_chunked" -> s"""
      WITH t AS (
        SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                       ELSE $DuckTokens END AS toks
        FROM documents),
      c AS (
        SELECT doc_id, toks, unnest(CASE WHEN len(toks) > 0
          THEN range(0, CAST(ceil(greatest(len(toks) - 40, 0) / 30.0) AS INT) + 1)
          ELSE []::BIGINT[] END) AS chunk_id
        FROM t)
      SELECT doc_id, chunk_id,
        CAST(len(toks[chunk_id*30+1 : chunk_id*30+40]) AS BIGINT) AS n_tokens,
        array_to_string(toks[chunk_id*30+1 : chunk_id*30+40], ' ') AS chunk_text
      FROM c""",
    "q48_profile" -> {
      def one(c: String, expr: String) = s"""
        SELECT '$c' AS column_name,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(*) - count($expr) AS BIGINT) AS n_nulls,
          CAST(count(DISTINCT $expr) AS BIGINT) AS n_distinct,
          CAST(min($expr) AS VARCHAR) AS min_value,
          CAST(max($expr) AS VARCHAR) AS max_value
        FROM orders"""
      Seq("o_orderkey" -> "o_orderkey", "o_custkey" -> "o_custkey",
        "o_orderpriority" -> "o_orderpriority",
        "o_orderdate" -> "CAST(o_orderdate AS DATE)")
        .map { case (c, e) => one(c, e) }.mkString(" UNION ALL ")
    },
    "q47_grouping_sets" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS order_cnt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(grouping(year(o_orderdate), o_orderpriority) AS BIGINT) AS gid
         FROM orders
         GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderpriority),
                                 (year(o_orderdate), o_orderpriority))""",
    "q64_token_budget_mix" -> s"""
      WITH t AS (
        SELECT doc_id, source,
          CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($DuckTokens) END AS n_tokens,
          md5_number_lower('budget|' || CAST(doc_id AS VARCHAR))
            & 9223372036854775807 AS prio
        FROM documents),
      w AS (
        SELECT doc_id, source, n_tokens,
          sum(n_tokens) OVER (PARTITION BY source ORDER BY prio, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
      FROM w WHERE cum <= 800""",
    "q65_keep_best_dedup" -> s"""
      WITH RECURSIVE $DuckNearDupCtes,
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM verified
        WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35
        UNION
        SELECT doc_b, doc_a FROM verified
        WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35),
      reach(u, v) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v),
      comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u),
      tok AS (SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len($DuckTokens) END AS n_tokens
              FROM documents),
      ranked AS (
        SELECT c.doc_id, c.component_id, t.n_tokens,
          row_number() OVER (PARTITION BY c.component_id
                             ORDER BY t.n_tokens DESC, c.doc_id) AS rn
        FROM comp c JOIN tok t USING (doc_id)),
      losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
      SELECT doc_id, n_tokens FROM tok
      WHERE doc_id NOT IN (SELECT doc_id FROM losers)""",
    // q116: the whole derivation re-done in SQL — featurize (unigrams
    // + non-distinct bigrams), hash-bucket via md5_number_lower (the
    // engine's md5_lower64 twin), two add-1 bucket models, per-doc
    // integer-micros sums. The ln-chain is written left-associated
    // exactly as the engine column expression, and the round-to-micros
    // happens per BUCKET, so both engines sum identical BIGINTs.
    "q116_dsir_weights" -> s"""
      WITH $DuckDsirCtes
      SELECT d.doc_id,
        CAST(coalesce(n_feats, 0) AS BIGINT) AS n_feats,
        CAST(coalesce(lw, 0) AS BIGINT) AS logw_micros
      FROM documents d LEFT JOIN sc USING (doc_id)""",
    // q117: the q116 weight chain + per-source ceil-quota rank cut —
    // integer quota arithmetic and the same (logw desc, doc_id) order
    "q117_dsir_select" -> s"""
      WITH $DuckDsirCtes,
      w AS (
        SELECT d.doc_id, d.source,
          CAST(coalesce(lw, 0) AS BIGINT) AS logw_micros
        FROM documents d LEFT JOIN sc USING (doc_id)),
      qt AS (
        SELECT source,
          CAST((CAST(count(*) AS BIGINT) * 250000 + 999999) // 1000000
            AS BIGINT) AS quota
        FROM w GROUP BY 1),
      rk AS (
        SELECT doc_id, source, logw_micros,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY logw_micros DESC, doc_id) AS BIGINT) AS kept_rank
        FROM w)
      SELECT doc_id, source, logw_micros, kept_rank
      FROM rk JOIN qt USING (source)
      WHERE kept_rank <= quota""",
    // q119: the engine's mixing chain mirrored verbatim — λ and 1−λ
    // interpolate as the SAME Scala-computed doubles (1.0−0.7 prints
    // 0.30000000000000004; embedding a hand-written 0.3 would be a
    // different constant), per-bigram micro-nats rounded once
    // q119: the factored bigram-perplexity generator over documents
    // (the same CTE chain composes into q153)
    "q119_bigram_perplexity" -> s"""
      WITH ${duckBigramPplCtes("documents")}
      SELECT doc_id, n_bigrams, avg_nlp_micros FROM bp_score""",
    "q66_bigram_lm" -> s"""
      WITH toks AS (
        SELECT CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE $DuckTokens END AS ts
        FROM documents),
      bg AS (
        SELECT ts[g] AS w1, ts[g + 1] AS w2
        FROM (SELECT ts, unnest(range(1, len(ts))) AS g
              FROM toks WHERE len(ts) >= 2)),
      bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
      uc AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bc GROUP BY 1)
      SELECT w1, w2, c2, c1,
        CAST(round((ln(c2) - ln(c1)) * 1e6) AS BIGINT) AS logp_micros
      FROM bc JOIN uc USING (w1)
      ORDER BY c2 DESC, w1, w2 LIMIT 50""",
    "q68_label_centroids" -> {
      // identical quantization (floor(x·1e6 + 0.5), the q59 recipe) and
      // left-assoc dot products, so both engines aggregate the SAME
      // integers and the final cosine is one float op over them
      val normTerms = (1 to 64).map(i => s"v[$i] * v[$i]").mkString(" + ")
      val dotSS = (1 to 64)
        .map(i => s"CAST(sv[$i] AS DOUBLE) * CAST(sv[$i] AS DOUBLE)").mkString(" + ")
      val dotSU = (1 to 64)
        .map(i => s"CAST(uv[$i] AS DOUBLE) * CAST(sv[$i] AS DOUBLE)").mkString(" + ")
      s"""
      WITH e AS (
        SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      nrm AS (SELECT label, v, sqrt($normTerms) AS nv FROM e),
      qv AS (
        SELECT label,
          list_transform(v, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS s,
          CASE WHEN nv = 0.0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
               ELSE list_transform(v, x -> CAST(floor(x / nv * 1e6 + 0.5) AS BIGINT))
          END AS u
        FROM nrm),
      comp AS (
        SELECT label, g, CAST(sum(s[g]) AS BIGINT) AS ssum,
               CAST(sum(u[g]) AS BIGINT) AS usum
        FROM (SELECT label, s, u, unnest(range(1, 65)) AS g FROM qv)
        GROUP BY 1, 2),
      agg AS (
        SELECT label, list(ssum ORDER BY g) AS sv, list(usum ORDER BY g) AS uv
        FROM comp GROUP BY label),
      cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1)
      SELECT label, n,
        array_to_string(sv, ',') AS centroid_sum_csv,
        round(CASE WHEN ($dotSS) = 0.0 THEN 0.0
                   ELSE ($dotSU) / (n * sqrt($dotSS) * 1000000.0) END, 6) AS mean_cos
      FROM agg JOIN cnt USING (label)"""
    },
    "q69_moment_stats" -> """
      WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
                 FROM events),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
            FROM c GROUP BY 1)
      SELECT event_type, n, s1, s2,
        round(CAST(s1 AS DOUBLE) / n, 6) AS mean_cents,
        round((CAST(s2 AS DOUBLE) -
               CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n, 6) AS var_cents
      FROM a""",
    "q72_span_dedup" -> s"""
      WITH t AS (
        SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE $DuckTokens END AS ts
        FROM documents),
      pt AS (
        SELECT doc_id, g AS pos, ts[g + 1] AS tok,
          CASE WHEN g + 5 <= len(ts)
               THEN md5(array_to_string(ts[g + 1 : g + 5], ' ')) END AS h
        FROM (SELECT doc_id, ts, unnest(range(0, len(ts))) AS g
              FROM t WHERE len(ts) > 0)),
      dup AS (
        SELECT h FROM pt WHERE h IS NOT NULL
        GROUP BY h HAVING min(doc_id) <> max(doc_id)),
      m AS (
        SELECT p.doc_id, p.pos, p.tok,
          max(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)
            OVER (PARTITION BY p.doc_id ORDER BY p.pos
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rm
        FROM pt p LEFT JOIN dup d ON p.h = d.h)
      SELECT doc_id,
        coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE rm = 0), '')
          AS clean_text,
        CAST(count(*) FILTER (WHERE rm = 0) AS BIGINT) AS kept_tokens,
        CAST(count(*) FILTER (WHERE rm = 1) AS BIGINT) AS removed_tokens
      FROM m GROUP BY doc_id""",
    "q75_cms_frequency" -> s"""
      WITH base AS (
        SELECT CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE $DuckTokens END AS toks
        FROM documents),
      tk AS (SELECT unnest(toks) AS tok FROM base),
      cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
      js AS (SELECT unnest(range(0, 4)) AS j),
      bk AS (
        SELECT js.j,
          ((md5_number_upper(c.tok) % 2147483647
            + js.j * (md5_number_lower(c.tok) % 2147483647)) % 2147483647) % 32 AS b,
          CAST(sum(c.cnt) AS BIGINT) AS s
        FROM cnt c, js GROUP BY 1, 2),
      probes AS (SELECT tok, cnt FROM cnt ORDER BY cnt DESC, tok LIMIT 20)
      SELECT p.tok, p.cnt, CAST(min(bk.s) AS BIGINT) AS est_cnt
      FROM probes p
      JOIN js ON true
      JOIN bk ON bk.j = js.j
        AND bk.b = ((md5_number_upper(p.tok) % 2147483647
          + js.j * (md5_number_lower(p.tok) % 2147483647)) % 2147483647) % 32
      GROUP BY 1, 2""",
    "q76_fuzzy_names" -> """
      WITH names AS (
        SELECT DISTINCT p_name AS nm FROM part WHERE p_name IS NOT NULL),
      b AS (SELECT nm, string_split(nm, ' ')[-1] AS blk FROM names),
      ok AS (SELECT blk FROM b GROUP BY blk HAVING count(*) <= 1000)
      SELECT a.nm AS name_a, c.nm AS name_b,
        CAST(levenshtein(a.nm, c.nm) AS INT) AS dist
      FROM b a
      JOIN b c ON a.blk = c.blk AND a.nm < c.nm
      JOIN ok ON ok.blk = a.blk
      WHERE levenshtein(a.nm, c.nm) <= 2""",
    "q79_dup_gram_mass" -> s"""
      WITH t AS (
        SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE $DuckTokens END AS ts
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(ts) < 3 THEN []::VARCHAR[]
               ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                    i -> array_to_string(ts[i:i+2], ' '))) END AS shingles
        FROM t),
      g AS (
        SELECT doc_id,
          unnest(list_distinct(list_transform(shingles, x -> md5_number_lower(x)))) AS g
        FROM sh WHERE len(shingles) > 0),
      cg AS (SELECT g FROM g GROUP BY g HAVING min(doc_id) <> max(doc_id))
      SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        CAST(count(c.g) AS BIGINT) AS dup_grams,
        CAST((1000000 * count(c.g)) // count(*) AS BIGINT) AS dup_ppm
      FROM g d LEFT JOIN cg c ON d.g = c.g
      GROUP BY 1""",
    "q80_nb_classify" -> s"""
      WITH tf AS (
        SELECT doc_id, cls, tok, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, source AS cls,
                unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                       ELSE $DuckTokens END) AS tok
              FROM documents)
        GROUP BY 1, 2, 3),
      vocab AS (
        SELECT tok FROM (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt
                         FROM tf GROUP BY 1)
        ORDER BY cnt DESC, tok LIMIT 10000),
      tfv AS (SELECT tf.* FROM tf JOIN vocab USING (tok)),
      classes AS (SELECT source AS cls, CAST(count(*) AS BIGINT) AS dc
                  FROM documents GROUP BY 1),
      totals AS (SELECT cls, CAST(sum(tf) AS BIGINT) AS tc FROM tfv GROUP BY 1),
      vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS d_all FROM documents),
      cls_stats AS (
        SELECT c.cls, coalesce(t.tc, 0) AS tc, vs.v,
          CAST(round((ln(CAST(c.dc AS DOUBLE)) - ln(CAST(nd.d_all AS DOUBLE))) * 1e6)
               AS BIGINT) AS prior_micros
        FROM classes c LEFT JOIN totals t ON c.cls = t.cls, vs, nd),
      counts AS (SELECT cls, tok, CAST(sum(tf) AS BIGINT) AS ctc FROM tfv GROUP BY 1, 2),
      matrix AS (
        SELECT s.cls, vo.tok,
          CAST(round((ln(CAST(coalesce(ct.ctc, 0) AS DOUBLE) + 1)
               - ln(CAST(s.tc + s.v AS DOUBLE))) * 1e6) AS BIGINT) AS lp_micros
        FROM vocab vo CROSS JOIN cls_stats s
        LEFT JOIN counts ct ON ct.cls = s.cls AND ct.tok = vo.tok),
      tok_sum AS (
        SELECT t.doc_id, m.cls, CAST(sum(t.tf * m.lp_micros) AS BIGINT) AS ts
        FROM tfv t JOIN matrix m ON m.tok = t.tok
        GROUP BY 1, 2),
      scored AS (
        SELECT d.doc_id, s.cls,
          CAST(s.prior_micros + coalesce(ts.ts, 0) AS BIGINT) AS score_micros
        FROM (SELECT doc_id FROM documents) d
        CROSS JOIN cls_stats s
        LEFT JOIN tok_sum ts ON ts.doc_id = d.doc_id AND ts.cls = s.cls),
      best AS (SELECT doc_id, max(score_micros) AS score_micros FROM scored GROUP BY 1)
      SELECT s.doc_id, min(s.cls) AS pred,
        CAST(s.score_micros AS BIGINT) AS score_micros
      FROM scored s
      JOIN best b ON s.doc_id = b.doc_id AND s.score_micros = b.score_micros
      GROUP BY 1, 3""",
    "q81_knn_label" -> """
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id >= 400),
      c AS (SELECT vec_id AS neighbor_id, label, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE vec_id < 400),
      scored AS (
        SELECT query_id, neighbor_id, label,
          list_dot_product(qv, cv) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        FROM q JOIN c ON query_id <> neighbor_id),
      nn AS (
        SELECT query_id, label
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rnk FROM scored)
        WHERE rnk <= 5),
      v AS (SELECT query_id, CAST(label AS BIGINT) AS lbl,
              CAST(count(*) AS BIGINT) AS votes
            FROM nn GROUP BY 1, 2),
      best AS (SELECT query_id, max(votes) AS votes FROM v GROUP BY 1)
      SELECT v.query_id, CAST(min(v.lbl) AS BIGINT) AS pred_label,
        CAST(v.votes AS BIGINT) AS votes
      FROM v JOIN best b ON v.query_id = b.query_id AND v.votes = b.votes
      GROUP BY 1, 3""",
    "q73_funnel" -> """
      WITH v AS (
        SELECT user_id, min(epoch_ns(ts)) AS t0 FROM events
        WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, min(epoch_ns(e.ts)) AS t1
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= v.t0 GROUP BY 1),
      p AS (
        SELECT e.user_id, min(epoch_ns(e.ts)) AS t2
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= c.t1 GROUP BY 1)
      SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
             (SELECT count(*) FROM v) AS users
      UNION ALL
      SELECT CAST(1 AS BIGINT), 'click', (SELECT count(*) FROM c)
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'purchase', (SELECT count(*) FROM p)""",
    "q74_retention" -> """
      WITH wk AS (
        SELECT user_id, epoch_ns(ts) // 604800000000000 AS week_idx FROM events),
      cohort AS (SELECT user_id, min(week_idx) AS cohort_week FROM wk GROUP BY 1),
      active AS (SELECT DISTINCT user_id, week_idx FROM wk)
      SELECT c.cohort_week, a.week_idx - c.cohort_week AS week_offset,
        count(DISTINCT a.user_id) AS active_users
      FROM active a JOIN cohort c ON a.user_id = c.user_id
      GROUP BY 1, 2""",
    "q77_gap_fill" -> """
      WITH hourly AS (
        SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_idx,
          count(*) AS event_cnt,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events GROUP BY 1, 2),
      r AS (SELECT min(hour_idx) AS min_h, max(hour_idx) AS max_h FROM hourly),
      types AS (SELECT DISTINCT event_type FROM hourly),
      dense AS (
        SELECT event_type, unnest(range(min_h, max_h + 1)) AS hour_idx
        FROM types, r)
      SELECT d.event_type, d.hour_idx,
        CAST(coalesce(h.event_cnt, 0) AS BIGINT) AS event_cnt,
        last_value(h.value_cents IGNORE NULLS)
          OVER (PARTITION BY d.event_type ORDER BY d.hour_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
      FROM dense d
      LEFT JOIN hourly h ON d.event_type = h.event_type AND d.hour_idx = h.hour_idx""",
    "q78_anomaly_zscore" -> """
      WITH c AS (
        SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events),
      st AS (
        SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          CAST(sum(value_cents) AS HUGEINT) AS s,
          CAST(sum(CAST(value_cents AS HUGEINT) * value_cents) AS HUGEINT) AS ss
        FROM c GROUP BY 1)
      SELECT c.event_id, c.event_type, c.value_cents,
        CAST(round(CAST(st.n * c.value_cents - st.s AS DOUBLE) /
             sqrt(CAST(st.n * st.ss - st.s * st.s AS DOUBLE)) * 1e4) AS BIGINT)
          AS z_scaled
      FROM c JOIN st ON c.event_type = st.event_type
      WHERE (st.n * c.value_cents - st.s) * (st.n * c.value_cents - st.s)
            > 9 * (st.n * st.ss - st.s * st.s)""",
    "q71_shuffle_shards" -> """
      WITH h AS (
        SELECT doc_id,
          md5_number_lower('shuffle|' || CAST(doc_id AS VARCHAR))
            & 9223372036854775807 AS h
        FROM documents)
      SELECT doc_id, CAST(h % 8 AS INT) AS shard,
        CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
             AS BIGINT) AS pos
      FROM h""",
    "q70_window_suite" -> """
      SELECT o_orderkey, o_orderpriority,
        ntile(4) OVER w AS tile4,
        round(percent_rank() OVER w, 6) AS pct_rnk,
        round(cume_dist() OVER w, 6) AS cume,
        lag(o_orderkey, 1) OVER w AS prev_key,
        first_value(o_orderkey) OVER w AS first_key
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)""",
    "q67_cluster_sizes" -> s"""
      WITH RECURSIVE $DuckNearDupCtes,
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM verified
        WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35
        UNION
        SELECT doc_b, doc_a FROM verified
        WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.35),
      reach(u, v) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v),
      comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u),
      sizes AS (SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
                FROM comp GROUP BY 1)
      SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(cluster_size * count(*) AS BIGINT) AS n_docs
      FROM sizes GROUP BY 1""",
    "q63_bloom_decontaminate" -> s"""
      WITH corpus AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
      bench AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
      u AS (
        SELECT DISTINCT unnest(list_distinct(list_transform($DuckShingles,
          x -> md5_number_lower(x)))) AS h
        FROM bench),
      e AS (
        SELECT doc_id, unnest(list_distinct(list_transform($DuckShingles,
          x -> md5_number_lower(x)))) AS h
        FROM corpus)
      SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
      FROM e JOIN u ON e.h = u.h GROUP BY e.doc_id""",
    "q43_contamination" -> s"""
      WITH corpus AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
      bench AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
      u AS (
        SELECT DISTINCT unnest(list_distinct(list_transform($DuckShingles,
          x -> md5_number_lower(x)))) AS h
        FROM bench),
      csh AS (
        SELECT doc_id, list_distinct(list_transform($DuckShingles,
          x -> md5_number_lower(x))) AS hs
        FROM corpus),
      hit AS (
        SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hit
        FROM (SELECT doc_id, unnest(hs) AS h FROM csh) e
        JOIN u ON e.h = u.h GROUP BY e.doc_id)
      SELECT c.doc_id, CAST(len(c.hs) AS BIGINT) AS n_shingles,
        CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated,
        round(coalesce(h.n_hit, 0) / len(c.hs), 4) AS contamination
      FROM csh c LEFT JOIN hit h ON c.doc_id = h.doc_id
      WHERE len(c.hs) > 0""",
    "q53_repetition_stats" -> s"""
      WITH base AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE $DuckTokens END AS t
        FROM documents),
      nz AS (SELECT * FROM base WHERE len(t) > 0),
      uc AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM nz) GROUP BY 1, 2),
      uni AS (
        SELECT doc_id, CAST(max(c) AS BIGINT) AS max_tok,
          CAST(sum(c) AS BIGINT) AS n_toks,
          sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
        FROM uc GROUP BY 1),
      bc AS (
        SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id,
                unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
              FROM nz WHERE len(t) >= 2) GROUP BY 1, 2),
      bi AS (
        SELECT doc_id, CAST(max(c) AS BIGINT) AS max_bigram,
          CAST(sum(c) AS BIGINT) AS n_bigrams
        FROM bc GROUP BY 1)
      SELECT u.doc_id,
        round(CAST(u.max_tok AS DOUBLE) / u.n_toks, 4) AS top_token_frac,
        round(CAST(b.max_bigram AS DOUBLE) / b.n_bigrams, 4) AS top_bigram_frac,
        round(ln(CAST(u.n_toks AS DOUBLE)) - u.clogc / u.n_toks, 4) AS token_entropy,
        (CAST(u.max_tok AS DOUBLE) / u.n_toks <= 0.14 AND
         coalesce(CAST(b.max_bigram AS DOUBLE) / b.n_bigrams <= 0.07, true))
          AS repetition_pass
      FROM uni u LEFT JOIN bi b ON u.doc_id = b.doc_id""",
    "q54_sequence_packing" -> DuckPackSql,
    // q133 is the SAME packing derivation driven from the engine's SQL
    // surface (md5_lower64 + window functions in spark.sql) — the
    // oracle is q54's verbatim: two SQL dialects, one relation
    "q133_sql_pack" -> DuckPackSql,
    "q58_vocabulary" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                              ELSE $DuckTokens END) AS term
        FROM documents)
      SELECT term, CAST(count(*) AS BIGINT) AS term_count,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM toks GROUP BY term
      ORDER BY term_count DESC, term LIMIT 100""",
    "q57_quality_gate" -> s"""
      WITH stats AS (
        SELECT doc_id, lang_pred, quality_score
        FROM (${oracleSqlTextStats("documents")})),
      cutoffs AS (
        SELECT lang_pred, quantile_cont(quality_score, 0.5) AS lang_cutoff
        FROM stats GROUP BY 1)
      SELECT s.doc_id, s.lang_pred, s.quality_score,
        round(c.lang_cutoff, 4) AS lang_cutoff
      FROM stats s JOIN cutoffs c USING (lang_pred)
      WHERE s.quality_score >= c.lang_cutoff""",
    "q56_pii_scrub" -> """
      WITH planted AS (
        SELECT doc_id,
          text || ' contact ' || source || '@mail.example.com' ||
          ' via https://ex.com/d/' || CAST(doc_id AS VARCHAR) || '?ref=1' ||
          ' acct 90210' || CAST(doc_id AS VARCHAR) || '4481' AS text
        FROM documents),
      s1 AS (SELECT doc_id, text,
               regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t1
             FROM planted),
      s2 AS (SELECT *, regexp_replace(t1,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
             FROM s1)
      SELECT doc_id,
        regexp_replace(t2, '[0-9]{9,}', '<ID>', 'g') AS clean_text,
        CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        CAST(len(regexp_extract_all(t1,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(t2, '[0-9]{9,}')) AS BIGINT) AS n_ids
      FROM s2""",
    "q55_source_cap" -> """
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          row_number() OVER (PARTITION BY source
            ORDER BY (md5_number_lower('cap|' || CAST(doc_id AS VARCHAR))
                      & 9223372036854775807) % 1000000, doc_id) AS rn
        FROM documents)
      WHERE rn <= 10""",
    "q44_stratified_sample" -> """
      SELECT o_orderkey, o_orderpriority FROM orders
      WHERE (md5_number_lower('graft|' || CAST(o_orderkey AS VARCHAR))
             & 9223372036854775807) % 1000000 <
        CASE o_orderpriority
          WHEN '1-URGENT' THEN 1000000
          WHEN '2-HIGH' THEN 250000
          WHEN '3-MEDIUM' THEN 50000
          ELSE 10000 END""",
    "q45_tfidf_terms" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                              ELSE $DuckTokens END) AS term
        FROM documents),
      tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM toks GROUP BY 1, 2),
      len AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tfc GROUP BY 1),
      dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
      sc AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
                    (SELECT CAST(sum(tf) AS BIGINT) FROM tfc) AS tot_tokens),
      scored AS (
        SELECT t.doc_id, t.term, t.tf, d.df,
          round(t.tf * (ln((s.n_docs + 1) / (d.df + 1)) + 1), 4) AS tfidf,
          round(ln((s.n_docs - d.df + CAST(0.5 AS DOUBLE))
                   / (d.df + CAST(0.5 AS DOUBLE)) + 1)
                * t.tf * (CAST(1.2 AS DOUBLE) + 1)
                / (t.tf + CAST(1.2 AS DOUBLE) *
                   ((1 - CAST(0.75 AS DOUBLE)) +
                    CAST(0.75 AS DOUBLE) * l.doc_len
                      / (s.tot_tokens / s.n_docs))), 4) AS bm25
        FROM tfc t JOIN dfc d USING (term) JOIN len l USING (doc_id)
        CROSS JOIN sc s),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term ASC) AS rnk
        FROM scored)
      SELECT doc_id, term, tf, df, tfidf, bm25, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 5""",
    "q19_simhash" -> s"""
      WITH base AS (
        SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                              ELSE $DuckTokens END) AS tok
        FROM documents),
      h AS (SELECT doc_id,
          (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096 +
          (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256 +
          (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16 +
          (strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) AS h16
        FROM base),
      s AS (SELECT doc_id,
        ${(0 until 16).map(j =>
          s"sum(CASE WHEN (h16 // ${1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
          .mkString(", ")}
        FROM h GROUP BY doc_id)
      SELECT doc_id, CAST(${(0 until 16).map(j =>
          s"(CASE WHEN s$j > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS simhash
      FROM s""",
    "q20_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 20),
           c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                 FROM embeddings),
           scored AS (
             SELECT query_id, neighbor_id,
               list_dot_product(qv, cv) /
                 (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
             FROM q JOIN c ON query_id <> neighbor_id)
         SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
                round(sim, 4) AS cos_sim
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id) AS rnk FROM scored)
         WHERE rnk <= 5""",
    "q21_lsh_ann" -> s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      b AS (SELECT vec_id, e, ${duckSrpBucket("e")} AS bucket FROM v),
      q AS (SELECT vec_id AS query_id, e AS qv, bucket FROM b WHERE vec_id < 20),
      scored AS (
        SELECT query_id, c.vec_id AS neighbor_id,
          list_dot_product(qv, c.e) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.e, c.e))) AS sim
        FROM q JOIN b c ON q.bucket = c.bucket AND query_id <> c.vec_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
             round(sim, 4) AS cos_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS rnk FROM scored)
      WHERE rnk <= 5""",
    // the q20 truth and q21 approx pipelines composed, then recall per
    // query — same tie-break (sim DESC, neighbor_id) and bit-identical
    // similarity doubles as both parents
    "q109_ann_recall" -> s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      tscored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_dot_product(q.e, c.e) /
            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS sim
        FROM v q JOIN v c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
      truth AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rnk FROM tscored)
        WHERE rnk <= 5),
      b AS (SELECT vec_id, e, ${duckSrpBucket("e")} AS bucket FROM v),
      ascored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_dot_product(q.e, c.e) /
            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS sim
        FROM b q JOIN b c ON q.bucket = c.bucket
          AND q.vec_id < 20 AND q.vec_id <> c.vec_id),
      approx AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rnk FROM ascored)
        WHERE rnk <= 5)
      SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_true,
        CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
        CAST((1000000 * count(a.neighbor_id)) // count(*) AS BIGINT)
          AS recall_ppm
      FROM truth t LEFT JOIN approx a
        ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
      GROUP BY t.query_id""",
    "q59_quantize_int8" ->
      """WITH s AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             coalesce(list_max(list_transform(CAST(embedding AS DOUBLE[]),
               x -> abs(x))), 0.0) AS scale
           FROM embeddings)
         SELECT vec_id, round(scale, 6) AS scale,
           array_to_string(
             CASE WHEN scale = 0.0 THEN list_transform(v, x -> 0)
                  ELSE list_transform(v, x -> CAST(floor(x / scale * 127 + 0.5) AS INT))
             END, ',') AS q_csv
         FROM s""",
    // integer micro-nat arithmetic end-to-end (see LangModel scaladoc):
    // the only float op is the per-distinct-count ln(), fixed to BIGINT
    // before any order-dependent aggregation on either engine
    "q61_unigram_logprob" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                              ELSE $DuckTokens END) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      cnts AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
      tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total_tokens FROM tf)
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        CAST(sum(CAST(round((ln(total_tokens) - ln(cnt)) * 1e6) AS BIGINT) * tf) AS BIGINT)
          // CAST(sum(tf) AS BIGINT) AS avg_nlp_micros
      FROM tf JOIN cnts USING (tok) CROSS JOIN tot
      GROUP BY doc_id""",
    // q60: the factored segment-dedup generator over documents (the
    // same CTE chain composes into q153)
    "q60_segment_dedup" -> s"""
      WITH ${duckSegDedupCtes("documents")}
      SELECT doc_id, clean_text, kept_segments, removed_segments
      FROM sd_out""",
    "q22_cosine_neardup_baseline" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings WHERE vec_id < 500)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e) /
             (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS cos_sim
         FROM v a JOIN v b ON a.vec_id < b.vec_id
         WHERE list_dot_product(a.e, b.e) /
             (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.4""",
    "q23_events_hourly" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_idx, event_type,
           count(*) AS event_cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           count(DISTINCT user_id) AS distinct_users,
           (epoch_ns(ts) // 3600000000000) * 3600 AS hour_start_epoch_s
         FROM events GROUP BY 1, 2, 6""",
    "q24_sessionize" ->
      s"""WITH $DuckSessionCtes
         SELECT user_id, session_seq, count(*) AS n_events,
           min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM s GROUP BY user_id, session_seq""",
    "q26_sql_surface" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1995-03-15'
           AND l_shipdate > TIMESTAMP '1995-03-15'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue_cents DESC, o_orderdate, l_orderkey
         LIMIT 10""",
    "q41_topk_per_group" ->
      """SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk, o_orderkey, totalprice
         FROM (SELECT c_mktsegment, o_orderkey, o_totalprice AS totalprice,
                 row_number() OVER (PARTITION BY c_mktsegment
                   ORDER BY o_totalprice DESC, o_orderkey) AS rnk
               FROM orders JOIN customer ON o_custkey = c_custkey)
         WHERE rnk <= 3""",
    "q27_json_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           count(*) AS event_cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1""",
    "q36_rolling_fingerprint" ->
      """SELECT doc_id,
           CASE WHEN length(text) < 16 THEN NULL ELSE
             list_min(list_transform(range(1, length(text) - 14),
               i -> list_reduce(
                 list_transform(range(0, 16), j -> CAST(ord(substr(text, i + j, 1)) AS BIGINT)),
                 (acc, c) -> (acc * 31 + c) % 2147483647)))
           END AS fingerprint_min
         FROM documents""",
    "q37_frame_sample" ->
      """WITH f AS (
           SELECT doc_id, text,
                  unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS frame_idx
           FROM documents)
         SELECT doc_id, frame_idx,
                md5(substr(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS frame_md5
         FROM f WHERE frame_idx % 4 = 0""",
    // golden-file oracle: expectations were computed by the SAME JDK
    // decoder at fixture-generation time (MakeImageFixtures) — the
    // hash compare catches any drift in the engine's decode plumbing.
    // The two corrupt planted rows carry NULL expectations and must be
    // absent from the Spark output too (drop-don't-fail).
    "q110_image_decode" ->
      s"""SELECT doc_id, media_type, exp_n_bytes AS n_bytes,
            exp_width AS width, exp_height AS height,
            exp_channels AS channels, exp_pixel_md5 AS pixel_md5
          FROM read_parquet('${graft.ops.Multimodal.ImageFixture}/*.parquet')
          WHERE exp_pixel_md5 IS NOT NULL""",
    "q111_audio_decode" ->
      s"""SELECT doc_id, media_type, exp_n_bytes AS n_bytes,
            exp_sample_rate AS sample_rate, exp_channels AS channels,
            exp_bits AS bits, exp_n_frames AS n_frames,
            exp_pcm_md5 AS pcm_md5
          FROM read_parquet('${graft.ops.Multimodal.AudioFixture}/*.parquet')
          WHERE exp_pcm_md5 IS NOT NULL""",
    "q31_rollup" ->
      """SELECT year(o_orderdate) AS order_year, o_orderpriority,
              count(*) AS order_cnt
         FROM orders
         GROUP BY ROLLUP(year(o_orderdate), o_orderpriority)""",
    "q32_setops" ->
      """SELECT d, 'both' AS which FROM
           (SELECT CAST(o_orderdate AS DATE) AS d FROM orders
            INTERSECT
            SELECT CAST(l_shipdate AS DATE) FROM lineitem)
         UNION ALL
         SELECT d, 'order_only' FROM
           (SELECT CAST(o_orderdate AS DATE) AS d FROM orders
            EXCEPT
            SELECT CAST(l_shipdate AS DATE) FROM lineitem)""",
    "q33_pivot" ->
      """SELECT user_id,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY user_id""",
    // The estimate column itself is engine-specific (Spark HLL++ vs
    // DuckDB HLL), so the contract under oracle check is: exact count
    // matches, and Spark's estimate is within ±5% of it. The oracle
    // asserts the bound as literal TRUE; a drifting sketch flips the
    // boolean on the Spark side and fails the hash.
    "q35_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
         FROM events GROUP BY event_type""",
    "q34_percentiles" ->
      """SELECT event_type,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) AS p50_cents,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.95) AS p95_cents,
           min(CAST(round(value * 100) AS BIGINT)) AS min_cents,
           max(CAST(round(value * 100) AS BIGINT)) AS max_cents
         FROM events GROUP BY event_type""",
    "q30_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
           p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
           s AS (SELECT user_id, ts_us, max(event_id) AS signup_event_id
                 FROM e WHERE event_type = 'signup' GROUP BY user_id, ts_us)
         SELECT p.event_id, p.user_id, p.ts_us,
                s.ts_us AS signup_ts_us, s.signup_event_id
         FROM p ASOF LEFT JOIN s
           ON p.user_id = s.user_id AND p.ts_us >= s.ts_us""",
    "q28_dedup_corpus" ->
      """SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         JOIN (SELECT min(doc_id) AS doc_id FROM documents
               GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text), '[!-/:-@\[-`{-~]', ' ', 'g'), '\s+', ' ', 'g')))) k
           ON d.doc_id = k.doc_id""",
    "q25_multimodal_features" ->
      """SELECT doc_id,
           'image/fake-' || CAST(doc_id % 3 AS VARCHAR) AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height,
           md5(text) AS checksum
         FROM documents""") ++ graft.etl.EtlQueries.oracleSql
}
