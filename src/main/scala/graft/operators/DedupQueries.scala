package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators over the documents corpus — SURVEY.md §2.10
  * rows 49–51 (LLM-data-pipeline north star).
  *
  * Scale notes (100 TB):
  *  - #49 groups on a content hash — one shuffle keyed by md5, partial
  *    count map-side; never materializes pairs.
  *  - #50 generates candidate *pairs* only within equal prefix-key
  *    buckets: an equi self-join (shuffle hash/sort-merge on the key),
  *    never an all-pairs cross product. Bucket sizes are bounded by the
  *    key's selectivity, and AQE splits a skewed bucket at runtime.
  *  - #51 is MinHash-LSH banding: signature computation is per-row
  *    (no shuffle); candidate generation is an equi join on
  *    (band, band_key) — the canonical sub-quadratic near-dup shape.
  *  - The family shares ONE shingle stage ([[Shingled]]): canonicalize →
  *    shingle is computed once and every consumer reads the materialized
  *    intermediate, instead of each query re-running the (interpreted
  *    HOF) shingling over the raw corpus.
  */
object DedupQueries {

  /** Shared 3-token shingling (see MinHashLsh doc for why unigrams are
    * useless on this corpus). `wordsCol` must hold the split text. */
  object Shingles {
    val size = 3

    /** Array column of space-joined `size`-token shingles. */
    def of(wordsCol: String): org.apache.spark.sql.Column =
      expr(
        s"""transform(
           |  sequence(1, greatest(size($wordsCol) - ${size - 1}, 1)),
           |  i -> concat_ws(' ', slice($wordsCol, i, $size)))""".stripMargin)

    /** Typed twin of `lower → split(' ') → [[of]]`, for per-batch
      * STREAMING callers (r15, guide §1.2 "per-task work"): the
      * declarative form hides a quadratic trap — CollapseProject
      * inlines the `split(lower(text), ' ')` words column into the
      * interpreted `transform` lambda, so every shingle ELEMENT
      * re-runs the full regex split of its document (~50× per doc;
      * jstack sampling put two thirds of the streaming banding stage
      * inside UTF8String.split). Batch rows amortize it through the
      * persisted [[Shingled]] stage; a per-batch fold cannot. This
      * port runs each document once through THE SAME engine
      * primitives — UTF8String.toLowerCase, UTF8String.split (the
      * exact StringSplit eval call), then the slice/concat_ws window
      * join — so its output is bit-identical to the declarative
      * column (ShingleSpec pins equality on the fixture corpus plus
      * empty/multi-space/short/non-ASCII edges). */
    def shingleArray(text: org.apache.spark.unsafe.types.UTF8String)
        : Array[String] = {
      val words = text.toLowerCase
        .split(org.apache.spark.unsafe.types.UTF8String.fromString(" "), -1)
      val n = math.max(words.length - (size - 1), 1)
      val out = new Array[String](n)
      var i = 0
      while (i < n) {
        val upper = math.min(i + size, words.length)
        val sb = new java.lang.StringBuilder
        var j = i
        while (j < upper) {
          if (j > i) sb.append(' ')
          sb.append(words(j).toString)
          j += 1
        }
        out(i) = sb.toString
        i += 1
      }
      out
    }

    /** (doc_id, text) → (doc_id, sh) through [[shingleArray]]. A null
      * text shingles like the EMPTY text — [""] — because that is what
      * the declarative column computes (split(lower(null)) is null, but
      * greatest(size(null)−2, 1) = 1 and concat_ws skips the null
      * slice, so the HOF emits one empty shingle; ShingleSpec pins the
      * equality). Before the guard, fromString(null) NPE'd the whole
      * fold (r15 advice). */
    def typed(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, shingleArray(
            org.apache.spark.unsafe.types.UTF8String.fromString(
              if (text == null) "" else text)).toSeq)
        })
        .toDF("doc_id", "sh")
    }

    /** The same shingle list in DuckDB SQL (w = string_split(text)). */
    def sql(words: String): String =
      s"""list_transform(range(1, greatest(len($words) - ${size - 1}, 1) + 1),
         |    i -> concat_ws(' ', $words[i], $words[i+1], $words[i+2]))""".stripMargin
  }

  /** The dedup family's shared shingle stage — canonicalize (lowercase)
    * then shingle, computed ONCE per (session, sfDir) and materialized;
    * every dedup consumer reads this intermediate instead of re-deriving
    * shingles from raw text. r5 bench: four family members independently
    * re-ran the shingling (`transform`/`slice` are CodegenFallback —
    * interpreted), and that duplicated explode was the family's single
    * dominant cost.
    *
    * At 100 TB this is the intermediate TABLE a training-data pipeline
    * writes once (normalize → shingle → store columnar) and every dedup
    * job scans; the local analog is a MEMORY_AND_DISK-persisted frame.
    * Canonicalization lives HERE so every downstream dedup sees identical
    * tokens (the canonicalize-before-dedup rule q_text_normalize checks).
    *
    * Columns: doc_id; h (md5 of the RAW text — the exact-dedup key; the
    * stage stores the 32-char digest, never the document body, so the
    * cached intermediate stays narrow at any document size); k (40-char
    * lowered prefix bucket key); sh (ordered 3-token shingles of the
    * lowered text, duplicates preserved — the min-aggregate and the
    * array_distinct consumers are both insensitive to duplicates).
    */
  object Shingled {
    // Lifetime note: entries persist for the JVM (no eviction) — sized
    // for this program's shape of one or two sessions over at most three
    // sfDirs. A service embedding this would key by dir only and
    // unpersist on session close; at 100 TB the stage is a written table
    // and this cache doesn't exist at all. The envelope is ASSERTED, not
    // just documented: PinnedFootprintSpec pins >= 10x heap headroom at
    // the bench SF and spill-ability of every pinned level, and Bench
    // emits pinned_mem_bytes/pinned_disk_bytes per run.
    private val cache = new graft.Memo[(SparkSession, String), DataFrame]

    def apply(s: SparkSession, dir: String): DataFrame =
      // graft.Memo serializes first calls: a racing losing copy would
      // stay persist-marked (pinned MEMORY_AND_DISK) for the JVM
      // lifetime. The thunk is pure plan construction + a persist MARK
      // (no job runs until a consumer acts), so the lock hold is µs.
      cache((s, dir)) {
        Tables.documents(s, dir)
          .withColumn("lt", lower(col("text")))
          .withColumn("w", split(col("lt"), " "))
          .select(
            col("doc_id"),
            md5(col("text")).as("h"),
            substring(col("lt"), 1, 40).as("k"),
            Shingles.of("w").as("sh"))
          .persist(StorageLevel.MEMORY_AND_DISK)
      }
  }

  /** q_dedup_shingle_stage — the shared stage itself as an oracle row: the
    * one canonicalize+shingle pass every other dedup query consumes. Ordered
    * output, so the DuckDB twin pins both shingle CONTENT and ORDER. The
    * shingle LIST is projected as a U+0001-joined scalar (plus its length):
    * the driver's pandas-side compare sorts/hashes cell values and cannot
    * hash an array cell (r6: 'unhashable type: numpy.ndarray'), and a
    * separator that can't occur in text keeps the flattening injective —
    * equal strings ⟺ equal lists. */
  val qDedupShingleStage: Q = Q(
    "q_dedup_shingle_stage",
    (s, dir) => {
      import s.implicits._
      Shingled(s, dir)
        .select($"doc_id", $"k",
          size($"sh").cast("long").as("n_shingles"),
          concat_ws("\u0001", $"sh").as("sh_flat"))
        .orderBy($"doc_id")
    },
    oracle = Some(
      s"""SELECT doc_id, substring(lower(text), 1, 40) AS k,
         |  len(${Shingles.sql("string_split(lower(text), ' ')")}) AS n_shingles,
         |  array_to_string(${Shingles.sql("string_split(lower(text), ' ')")}, chr(1)) AS sh_flat
         |FROM documents
         |ORDER BY doc_id""".stripMargin))

  /** #49 q_dedup_exact — exact duplicate collapse by md5(text); keeps the
    * smallest doc_id as the canonical representative. */
  val qDedupExact: Q = Q(
    "q_dedup_exact",
    (s, dir) => {
      import s.implicits._
      Shingled(s, dir)
        .groupBy($"h")
        .agg(
          count(lit(1)).as("n_dups"),
          min($"doc_id").as("keep_id"))
        .orderBy($"h")
    },
    oracle = Some(
      """SELECT md5(text) AS h, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
        |FROM documents
        |GROUP BY h
        |ORDER BY h""".stripMargin))

  /** #50 q_dedup_near — near-dup candidate pairs sharing a normalized
    * 40-char prefix key (FIXTURES.md: 21 such groups at sf0.001). */
  val qDedupNear: Q = Q(
    "q_dedup_near",
    (s, dir) => {
      import s.implicits._
      val keyed = Shingled(s, dir).select($"k", $"doc_id")
      keyed.as("a")
        .join(keyed.as("b"),
          col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
        .select(
          col("a.doc_id").as("doc_a"),
          col("b.doc_id").as("doc_b"),
          col("a.k").as("prefix_key"))
        .orderBy($"doc_a", $"doc_b")
    },
    oracle = Some(
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  substring(lower(a.text), 1, 40) AS prefix_key
        |FROM documents a JOIN documents b
        |  ON substring(lower(a.text), 1, 40) = substring(lower(b.text), 1, 40)
        | AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin))

  /** MinHash-LSH internals, shared by the query and `MinHashSpec`.
    *
    * k=16 hash "permutations" (seeded xxhash64 over the distinct token
    * set), banded 4×4: docs agreeing on all 4 signature slots of any band
    * become a candidate pair. Probability a pair with Jaccard similarity
    * j collides: 1-(1-j^4)^4 — the classic LSH S-curve.
    */
  object MinHashLsh {
    val numHashes = 16
    val bands = 4
    val rowsPerBand = 4

    /** (doc_id, sh) pre-shingled frame → (doc_id, band, band_key) rows.
      *
      * MinHash is computed over *3-token shingles*, not unigrams: the
      * fixture corpus draws from a 31-word vocabulary, so unigram token
      * sets are nearly identical across documents and unigram-LSH
      * degenerates to all-pairs (measured: 6.4M candidate pairs at
      * sf0.1). Shingles restore discriminative sets — near-identical
      * docs keep Jaccard ≥ 0.9 while unrelated docs drop to ≈ 0.
      *
      * Signatures via explode + codegen'd min-aggregate rather than
      * per-row array HOFs: higher-order functions are CodegenFallback
      * (interpreted), and k×|shingles| interpreted xxhash evals dominate
      * otherwise (~10× slower measured at sf0.1). The aggregate
      * partial-aggregates map-side, so the shuffle carries one 16-long
      * signature row per doc — scale-safe. Duplicate shingles don't
      * change a min, so no distinct pass is needed. */
    def bandKeysFromShingles(preShingled: DataFrame): DataFrame = {
      val shingled = preShingled.select(col("doc_id"), explode(col("sh")).as("tok"))
      val sigCols = (0 until numHashes).map { i =>
        min(xxhash64(lit(i), col("tok"))).as(s"h$i")
      }
      val withSig = shingled.groupBy(col("doc_id"))
        .agg(sigCols.head, sigCols.tail: _*)
      val bandStructs = (0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          xxhash64((0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
            .as("band_key"))
      }
      withSig
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    }

    /** doc (doc_id, text) → band keys; shingles derived inline via the
      * typed per-doc shingler (the streaming folds' per-batch path —
      * catalog batch queries feed [[Shingled]] via the FromShingles
      * variant; see [[Shingles.shingleArray]] for why the declarative
      * inline form is quadratic here). */
    def bandKeys(df: DataFrame): DataFrame =
      bandKeysFromShingles(Shingles.typed(df))

    /** Distinct candidate pairs (doc_a < doc_b) from any band collision. */
    def candidatePairsFromShingles(preShingled: DataFrame): DataFrame = {
      val keys = bandKeysFromShingles(preShingled)
      keys.as("a")
        .join(keys.as("b"), Seq("band", "band_key"))
        .where(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    }

    def candidatePairs(df: DataFrame): DataFrame =
      candidatePairsFromShingles(
        df.withColumn("w", split(lower(col("text")), " "))
          .select(col("doc_id"), Shingles.of("w").as("sh")))
  }

  /** #51 q_dedup_minhash (T) — MinHash-LSH candidate pairs over the token
    * sets, fed from the shared shingle stage. Hash functions are
    * engine-specific (xxhash64 seeds), so no DuckDB oracle; `MinHashSpec`
    * asserts planted near-dups are recalled and exact duplicates always
    * collide. */
  val qDedupMinhash: Q = Q(
    "q_dedup_minhash",
    (s, dir) => {
      import s.implicits._
      MinHashLsh.candidatePairsFromShingles(Shingled(s, dir))
        .orderBy($"doc_a", $"doc_b")
    })

  /** q_dedup_ngram_jaccard — exact 3-gram Jaccard similarity over the
    * prefix-key candidate pairs (#50's scheme bounds the pair set), kept
    * at jaccard ≥ 0.5. Set semantics on both sides (array_intersect /
    * list_intersect are distinct); |A∪B| = |A|+|B|−|A∩B| because DuckDB
    * has no list_union. Int/int division in double, round(6) — fixture
    * set sizes terminate at ≤ 6 decimals or never hit an exact boundary.
    *
    * Scale: candidate generation is the equi prefix-key join; the exact
    * Jaccard runs only on candidates — never all pairs. */
  val qDedupNgramJaccard: Q = Q(
    "q_dedup_ngram_jaccard",
    (s, dir) => {
      import s.implicits._
      val keyed = Shingled(s, dir)
        .select($"k", $"doc_id", array_distinct($"sh").as("sh"))
      keyed.as("a")
        .join(keyed.as("b"),
          col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
        .select(
          col("a.doc_id").as("doc_a"),
          col("b.doc_id").as("doc_b"),
          size(array_intersect(col("a.sh"), col("b.sh"))).cast(DoubleType)
            .as("ni"),
          (size(col("a.sh")) + size(col("b.sh"))).cast(DoubleType).as("nab"))
        .select($"doc_a", $"doc_b",
          round($"ni" / ($"nab" - $"ni"), 6).as("jaccard"))
        .where($"jaccard" >= 0.5)
        .orderBy($"doc_a", $"doc_b")
    },
    oracle = Some(
      s"""SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    ROUND(
         |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - len(list_intersect(a.sh, b.sh))),
         |      6) AS jaccard
         |  FROM (SELECT doc_id, substring(lower(text), 1, 40) AS k,
         |          list_distinct(${Shingles.sql("string_split(lower(text), ' ')")}) AS sh
         |        FROM documents) a
         |  JOIN (SELECT doc_id, substring(lower(text), 1, 40) AS k,
         |          list_distinct(${Shingles.sql("string_split(lower(text), ' ')")}) AS sh
         |        FROM documents) b
         |    ON a.k = b.k AND a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin))

  /** Parameterized SimHash sketch — `bits`-bit fingerprints, banded into
    * `chunks` equal chunks, pairs kept at Hamming ≤ `maxHamming`.
    *
    * Bit j of the fingerprint is the sign of Σ±1 over features (bit j of
    * each shingle's xxhash64). Pairs within Hamming ≤ chunks−1 are
    * *guaranteed* to agree on some chunk (pigeonhole); distances up to
    * maxHamming are caught best-effort; the exact bit_count(xor)
    * post-filter makes the output precise either way. Everything is
    * explode + codegen agg + equi join — the scale-safe shape.
    *
    * Width rule (100 TB): the expected RANDOM-pair output is
    * n²/2 · P(Ham(bits) ≤ maxHamming) = n²/2 · Σ_{k≤h} C(bits,k)/2^bits
    * — a constant per-pair false-positive floor, so at fixed width the
    * OUTPUT is quadratic no matter how the banding prunes (measured by
    * `ScaleSpec`: 32/6 grows with exponent ≈ 2.0 on a random corpus).
    * Pick (bits, maxHamming) so that floor ≪ the true-dup count: 32/6
    * (P ≈ 2.6e-4) only suits fixture-scale corpora; 64/3 (P ≈ 2.4e-15)
    * is negligible past n = 10⁹. Long packing caps bits at 64; wider
    * sketches would shard the signature across two longs. */
  class SimHashSketch(val bits: Int, val chunks: Int, val maxHamming: Int) {
    require(chunks > 0, s"chunks must be positive, got $chunks")
    require(bits > 0 && bits <= 64 && bits % chunks == 0,
      s"bits must be in (0, 64] and divisible by chunks, got $bits/$chunks")
    private val chunkBits = bits / chunks
    require(chunkBits <= 32, s"chunk keys must fit an int-sized mask")

    /** (doc_id, sig) fingerprints from a pre-shingled (doc_id, sh) frame.
      *
      * The per-feature hot path packs the 64 bit-counters into 20-bit
      * unsigned fields, 3 per long — ⌈bits/3⌉ plain long-sum aggregate
      * columns instead of `bits` CASE-WHEN sums (r5's layout): pure
      * shift/and/add codegen, a third the agg buffer, and no branches
      * per (shingle × bit). Field k of packed long p counts how many
      * features set bit 3p+k; bit j of the final signature is
      * 2·ones_j ≥ n (identical tie semantics to the old Σ±1 ≥ 0).
      * The 20-bit fields cap docs at 2²⁰−1 ≈ 1M shingles — far past any
      * real document; a corpus of books would pre-chunk before this. */
    def fingerprintsFromShingles(preShingled: DataFrame): DataFrame = {
      val counterBits = 20
      val perLong = 3
      val nPacked = (bits + perLong - 1) / perLong
      val shingled = preShingled
        .select(col("doc_id"), explode(col("sh")).as("tok"))
        .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      val packedCols = (0 until nPacked).map { k =>
        val terms = (k * perLong until math.min((k + 1) * perLong, bits)).map { j =>
          shiftleft(shiftright(col("h"), j).bitwiseAND(1L),
            counterBits * (j - k * perLong))
        }
        sum(terms.reduce(_ + _)).as(s"p$k")
      }
      val aggCols = packedCols :+ count(lit(1)).as("n")
      val agged = shingled.groupBy(col("doc_id"))
        .agg(aggCols.head, aggCols.tail: _*)
      val mask = (1L << counterBits) - 1
      // Decode runs once per DOC (not per feature): unpack each ones
      // count, compare to n, assemble the signature long. Disjoint
      // powers of two sum without carries (1L << 63 lands the two's-
      // complement sign bit correctly), so + packs like bitwise-or.
      val sig = (0 until bits).map { j =>
        val ones = shiftright(col(s"p${j / perLong}"), counterBits * (j % perLong))
          .bitwiseAND(mask)
        when(ones * 2 >= col("n"), 1L << j).otherwise(0L)
      }.reduce(_ + _)
      // ENFORCE the 20-bit counter cap: a doc with >= 2^20 shingles
      // would overflow a field into its neighbor and yield a garbage
      // signature SILENTLY. assert_true folds into the sig expression
      // (coalesce(null, 0) when fine) so column pruning can't drop it;
      // oversized docs fail the job loudly instead.
      val guarded = sig + coalesce(
        expr(s"assert_true(n < ${1L << counterBits}, " +
          s"'SimHash: document exceeds 2^$counterBits shingles — " +
          "pre-chunk before sketching')").cast("long"),
        lit(0L))
      agged.select(col("doc_id"), guarded.as("sig"))
    }

    def fingerprints(df: DataFrame): DataFrame =
      fingerprintsFromShingles(
        df.withColumn("w", split(lower(col("text")), " "))
          .select(col("doc_id"), Shingles.of("w").as("sh")))

    /** Candidate pairs with exact Hamming distance ≤ maxHamming. */
    def nearPairsFromShingles(preShingled: DataFrame): DataFrame = {
      val mask = (1L << chunkBits) - 1
      val fps = fingerprintsFromShingles(preShingled)
      val banded = fps.select(col("doc_id"), col("sig"),
        explode(array((0 until chunks).map { c =>
          struct(lit(c).as("band"),
            // The mask drops the arithmetic shift's sign extension.
            shiftright(col("sig"), c * chunkBits).bitwiseAND(mask).as("ckey"))
        }: _*)).as("bk"))
        .select(col("doc_id"), col("sig"),
          col("bk.band").as("band"), col("bk.ckey").as("ckey"))
      banded.as("a")
        .join(banded.as("b"), Seq("band", "ckey"))
        .where(col("a.doc_id") < col("b.doc_id"))
        .select(
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
        .where(col("hamming") <= maxHamming)
        .distinct()
    }

    def nearPairs(df: DataFrame): DataFrame =
      nearPairsFromShingles(
        df.withColumn("w", split(lower(col("text")), " "))
          .select(col("doc_id"), Shingles.of("w").as("sh")))
  }

  /** The SHIPPED SimHash instance: 64-bit fingerprints, 16-bit chunks,
    * Hamming ≤ 3 — the production config from the width rule above
    * (FP floor ≈ 2.4e-15/pair: negligible at any realistic corpus size,
    * and ham ≤ chunks−1 = 3 recall is *guaranteed* by pigeonhole).
    * The old 32/6 fixture instance survives only as `ScaleSpec`'s
    * negative control, where its quadratic FP floor is the point. */
  object SimHash extends SimHashSketch(64, 4, 3)

  /** q_dedup_simhash (T) — SimHash near-dup pairs (hamming ≤ 3 of 64),
    * fed from the shared shingle stage. Engine-specific hashing ⇒ no
    * DuckDB twin; `SimHashSpec` pins identical-doc zero distance,
    * planted near-dup recall and disjoint rejection. At the shipped
    * width, only near-IDENTICAL docs (cosine ≳ 0.98 over shingle
    * features) land within hamming 3 — that is the production regime:
    * looser similarity belongs to MinHash/Jaccard, whose S-curve is
    * tunable, not to a fixed-width sketch. */
  val qDedupSimhash: Q = Q(
    "q_dedup_simhash",
    (s, dir) => {
      import s.implicits._
      SimHash.nearPairsFromShingles(Shingled(s, dir))
        .orderBy($"doc_a", $"doc_b")
    })

  /** q_dedup_pipeline — the end-to-end keep-list a training-data pipeline
    * actually ships: a document survives iff (a) it is the smallest
    * doc_id among its exact duplicates (md5 group) and (b) no
    * smaller-id near-duplicate exists (prefix-key candidate with 3-gram
    * Jaccard ≥ 0.5 — #50's bucketing + q_dedup_ngram_jaccard's verify).
    * Composes the dedup family into one decision, oracle-checked.
    *
    * Scale: rule (a) is one partial-aggregated shuffle on md5; rule (b)
    * reuses the bucketed candidate join (never all-pairs) and the
    * loser set is the distinct doc_b side — an anti join back against
    * the corpus. Three shuffles total, all keyed, no driver state; both
    * rules read the one shared shingle stage. */
  val qDedupPipeline: Q = Q(
    "q_dedup_pipeline",
    (s, dir) => {
      import s.implicits._
      val staged = Shingled(s, dir)
      val exactKeep = staged
        .groupBy($"h")
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val keyed = staged.select($"k", $"doc_id", array_distinct($"sh").as("sh"))
      val nearLosers = keyed.as("a")
        .join(keyed.as("b"),
          col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
        .select(
          col("b.doc_id").as("doc_b"),
          size(array_intersect(col("a.sh"), col("b.sh"))).cast(DoubleType)
            .as("ni"),
          (size(col("a.sh")) + size(col("b.sh"))).cast(DoubleType).as("nab"))
        .where(round($"ni" / ($"nab" - $"ni"), 6) >= 0.5)
        .select($"doc_b".as("doc_id"))
        .distinct()
      exactKeep
        .join(nearLosers, Seq("doc_id"), "left_anti")
        .orderBy($"doc_id")
    },
    oracle = Some(
      s"""WITH keyed AS (
         |  SELECT doc_id, md5(text) AS h, substring(lower(text), 1, 40) AS k,
         |    list_distinct(${Shingles.sql("string_split(lower(text), ' ')")}) AS sh
         |  FROM documents),
         |exact_keep AS (SELECT MIN(doc_id) AS doc_id FROM keyed GROUP BY h),
         |near_losers AS (
         |  SELECT DISTINCT b.doc_id FROM keyed a JOIN keyed b
         |    ON a.k = b.k AND a.doc_id < b.doc_id
         |  WHERE ROUND(
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - len(list_intersect(a.sh, b.sh))),
         |    6) >= 0.5)
         |SELECT doc_id FROM exact_keep
         |WHERE doc_id NOT IN (SELECT doc_id FROM near_losers)
         |ORDER BY doc_id""".stripMargin))

  /** Iterative min-label propagation over an undirected pair graph —
    * the connected-components engine behind q_dedup_components, shared
    * with `ComponentsSpec`'s planted-chain cases.
    *
    * @param vertices one `doc_id` column (every vertex, incl. isolated)
    * @param pairs    undirected edge list as (u, v) columns; every
    *                 endpoint MUST appear in `vertices` — propagation
    *                 left-joins onto `vertices`, so an endpoint missing
    *                 there gets no label row and is silently dropped
    *                 (every current caller derives both from one table
    *                 through `componentGraph`, which ComponentsSpec
    *                 checks for dangling endpoints)
    * @return (doc_id, canon_id) — canon_id = component minimum
    */
  object Components {
    def labels(vertices: DataFrame, pairs: DataFrame): DataFrame = {
      // AQE off for the loop (r16), on a graft.Scope clone: every round
      // is a pre-sized bounded job; the per-stage re-optimization gaps
      // cost more than they buy here. Measured r16 on idle 32 cores:
      // the three label-propagation dedup rows each ~-0.1 s, while
      // q_dedup_components_star's runtime broadcast conversions (2.09 →
      // 4.99 s WITHOUT AQE) keep it on. The result is handed back on
      // the caller's session.
      val caller = vertices.sparkSession
      val scoped = graft.Scope(caller, graft.Scope.aqeOff)
      val u = col("u"); val v = col("v")
      val p = graft.Scope.bind(pairs, scoped)
      val edges = p.select(u, v)
        .union(p.select(v.as("u"), u.as("v")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        var labels = graft.Scope.bind(vertices, scoped)
          .select(col("doc_id"), col("doc_id").as("canon_id"))
          .localCheckpoint(true)
        var changed = 1L
        var iter = 0
        while (changed > 0 && iter < 25) {
          // ONE materialization per round (r16, guide §2.4): the old
          // shape re-joined `next` against `labels` for the changed
          // count — a second keyed shuffle pair and a second job per
          // round. Fold the change FLAG into the propagation instead:
          // next = min(own label, min over in-neighbors' labels) via a
          // left join (labels is one row per doc, so this equals the
          // union+groupBy-min form), carry `chg` alongside, checkpoint
          // once, and count the flags on the already-materialized
          // frame (a shuffle-free scan of the checkpointed rows).
          val propMin = edges.join(labels, edges("u") === labels("doc_id"))
            .select(edges("v").as("doc_id"), col("canon_id"))
            .groupBy(col("doc_id")).agg(min(col("canon_id")).as("pmin"))
          val next = labels.join(propMin, Seq("doc_id"), "left_outer")
            .select(col("doc_id"),
              least(col("canon_id"),
                coalesce(col("pmin"), col("canon_id"))).as("canon_id"),
              (coalesce(col("pmin"), col("canon_id")) < col("canon_id"))
                .as("chg"))
            .localCheckpoint(true)
          changed = next.where(col("chg")).count()
          labels = next.select(col("doc_id"), col("canon_id"))
          iter += 1
        }
        require(changed == 0,
          s"label propagation did not converge within $iter rounds — " +
            "component diameter exceeds the cap; use Components.star")
        graft.Scope.bind(labels, caller)
      } finally edges.unpersist()
    }

    /** Large-star/small-star contraction (Kiveris et al., "Connected
      * Components in MapReduce and Beyond" — the public O(log n)-round
      * algorithm): alternate
      *   large-star: every neighbor LARGER than u re-points to
      *     m = min(Γ⁺(u)) (strictly shrinks long tails), and
      *   small-star: u and its ≤-neighbors all re-point to their min
      *     (flattens local stars),
      * until the edge set is a fixpoint — at which point every edge is
      * (node → its component minimum). Rounds grow with log(diameter),
      * not diameter: a 10⁶-node chain needs ~20 rounds where label
      * propagation needs 10⁶. Each phase is one groupBy over the edge
      * set (+ a broadcast-min join back), exactly the primitive mix the
      * propagation loop uses, so the 100 TB cost model is unchanged —
      * there are just O(log n) rounds of it. Same contract as
      * [[labels]]; `ComponentsSpec` pins equivalence on random graphs
      * and convergence on a chain 8× past the propagation cap. */
    private def minNeighbor(e: DataFrame): DataFrame =
      e.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))

    /** large-star: emit (v, m(u)) for v > u, over the SYMMETRIZED set.
      * private[graft] (not local to star) so GraphScaleSpec can measure
      * the interim edge volume of the SHIPPED phases round by round. */
    private[graft] def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      sym.join(minNeighbor(sym), "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    /** small-star: over edges pointed low-to-high ((v,u) with v ≤ u),
      * re-point u and all its ≤-neighbors at their collective min. */
    private[graft] def smallStar(e: DataFrame): DataFrame = {
      val low = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val withM = low.join(minNeighbor(low), "u")
      withM.select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    def star(vertices: DataFrame, pairs: DataFrame): DataFrame = {
      var edges = pairs.select(col("u"), col("v"))
        .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
      var stable = false
      var iter = 0
      while (!stable && iter < 50) {
        val next = smallStar(largeStar(edges)).localCheckpoint(true)
        // Fixpoint when the canonical edge set is unchanged. ONE action
        // (r12 verdict: this row's 3 driver-blocking actions per round —
        // two counts + an anti-join isEmpty — made it the catalog's most
        // ambient-jitter-exposed row): both frames are distinct sets, so
        // set equality ⟺ empty symmetric difference, and the symmetric
        // difference is one ±1 keyed aggregate over the two
        // already-checkpointed frames — any (u, v) appearing on exactly
        // one side sums to ±1.
        stable = next.select(col("u"), col("v"), lit(1L).as("_c"))
          .unionByName(edges.select(col("u"), col("v"), lit(-1L).as("_c")))
          .groupBy(col("u"), col("v")).agg(sum(col("_c")).as("_s"))
          .where(col("_s") =!= 0L)
          .isEmpty
        edges = next
        iter += 1
      }
      require(stable, s"star contraction did not converge in $iter rounds")
      // Fixpoint edges are (node → component min); isolated vertices
      // (and each component's root) label themselves.
      vertices.select(col("doc_id"))
        .join(edges.select(col("u").as("doc_id"), col("v").as("root")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("root"), col("doc_id")).as("canon_id"))
    }
  }

  /** q_dedup_components (added r7) — TRANSITIVE dedup clustering: the
    * near-dup pair set (prefix-bucket candidates at Jaccard ≥ 0.5, the
    * same criterion q_dedup_pipeline applies) is a GRAPH, and the unit a
    * pipeline actually dedups by is its connected component — A≈B≈C must
    * collapse to one cluster even when A and C never pair directly.
    * Output: every doc labeled with its component's minimum doc_id.
    *
    * Spark side: iterative min-label propagation — labels start as self;
    * each round propagates labels across edges and keeps the per-vertex
    * min; converged when no label changes. Each round is one keyed
    * shuffle over the EDGE set (which LSH/bucketing keeps ≪ n²); rounds
    * = component diameter. `localCheckpoint` truncates lineage per round
    * so the plan stays flat; the driver holds only the changed-count.
    * For 100 TB diameters `Components.star` SHIPS the
    * large-star/small-star form (Kiveris et al., O(log n) rounds —
    * ComponentsSpec runs it on a path 8× past this loop's cap and pins
    * equivalence on random graphs); near-dup components are shallow in
    * practice, so diameter rounds stay the honest default here.
    *
    * The DuckDB twin computes the same fixpoint declaratively
    * (WITH RECURSIVE reachability + min over the reach set), so the
    * oracle pins the TRANSITIVE semantics, not just direct pairs. */
  /** The near-dup candidate edge set both components rows cluster:
    * prefix-bucket candidates at shingle-Jaccard ≥ 0.5 (q_dedup_pipeline's
    * criterion), as (u, v) with u < v. */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keyed = Shingled(s, dir)
      .select($"k", $"doc_id", array_distinct($"sh").as("sh"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("u"), col("b.doc_id").as("v"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast(DoubleType)
          .as("ni"),
        (size(col("a.sh")) + size(col("b.sh"))).cast(DoubleType).as("nab"))
      .where(round($"ni" / ($"nab" - $"ni"), 6) >= 0.5)
      .select($"u", $"v")
  }

  /** The (vertices, pairs) graph every components row clusters: each
    * shingled doc as a vertex and the [[nearDupPairs]] edges, whose
    * endpoints are drawn from the same docs. */
  private[graft] def componentGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    (Shingled(s, dir).select(col("doc_id")), nearDupPairs(s, dir))

  val qDedupComponents: Q = Q(
    "q_dedup_components",
    (s, dir) => {
      import s.implicits._
      (Components.labels _).tupled(componentGraph(s, dir))
        .orderBy($"doc_id")
    },
    oracle = Some(componentLabelsSql(
      "SELECT doc_id, canon_id FROM comp ORDER BY doc_id")))

  /** Shared recursive-CTE twin of [[Components]] over [[nearDupPairs]]:
    * the `comp(doc_id, canon_id)` labeling that qDedupComponents,
    * qDedupComponentsStar and qDedupClusterSizes all finish from —
    * one definition so the three oracles can never drift apart. */
  private def componentLabelsSql(select: String): String =
    s"""WITH RECURSIVE keyed AS (
       |  SELECT doc_id, substring(lower(text), 1, 40) AS k,
       |    list_distinct(${Shingles.sql("string_split(lower(text), ' ')")}) AS sh
       |  FROM documents),
       |pairs AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM keyed a JOIN keyed b ON a.k = b.k AND a.doc_id < b.doc_id
       |  WHERE ROUND(
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - len(list_intersect(a.sh, b.sh))),
       |    6) >= 0.5),
       |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |labels AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u),
       |comp AS (
       |  SELECT d.doc_id,
       |    LEAST(d.doc_id, COALESCE(l.mn, d.doc_id)) AS canon_id
       |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)
       |$select""".stripMargin

  /** q_dedup_cluster_sizes — DUPLICATE-CLUSTER SIZE HISTOGRAM, the
    * audit a dedup pipeline reports before dropping anything: how many
    * clusters of each size exist (size 1 = unique docs), from the same
    * transitive near-dup clustering as [[qDedupComponents]] (shared
    * label stage AND shared oracle CTE — the histogram is a fixpoint
    * summary, so any drift in the clustering fails this row too).
    * Scale: two keyed partial aggs collapsing the doc-domain label
    * table to the size domain (bounded by the largest cluster) —
    * nothing beyond the components cost it already shares. */
  val qDedupClusterSizes: Q = Q(
    "q_dedup_cluster_sizes",
    (s, dir) => {
      import s.implicits._
      (Components.labels _).tupled(componentGraph(s, dir))
        .groupBy($"canon_id").agg(count(lit(1)).as("sz"))
        .groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy($"sz")
    },
    oracle = Some(componentLabelsSql(
      """SELECT sz, COUNT(*) AS n_clusters FROM (
        |  SELECT canon_id, COUNT(*) AS sz FROM comp GROUP BY canon_id)
        |GROUP BY sz
        |ORDER BY sz""".stripMargin)))

  /** q_dedup_canonical (added r11) — CANONICAL-REPRESENTATIVE selection
    * per near-dup cluster: the decision a dedup pipeline actually ships
    * is not just the clustering but WHICH member survives — here the
    * longest text (the most complete version of a near-duplicated
    * document), doc_id as the total tiebreak. Output one row per
    * cluster: the keeper, its length, and the cluster size (the
    * keep-list + audit in one result). Reuses the shared component
    * labeling ([[Components.labels]] over [[nearDupPairs]]; the twin
    * extends the same `componentLabelsSql` CTE prefix as the other
    * three component rows, so the four oracles cannot drift).
    *
    * Scale: the argmax is ONE partial-aggregated shuffle on canon_id
    * (max_by over a (chars, -doc_id) struct — exact integer
    * comparison, deterministic under any partitioning; the
    * q_agg_minmax_by rule), never a per-cluster sort window. */
  val qDedupCanonical: Q = Q(
    "q_dedup_canonical",
    (s, dir) => {
      import s.implicits._
      val labels = (Components.labels _).tupled(componentGraph(s, dir))
      val lens = Tables.documents(s, dir)
        .select($"doc_id", length($"text").cast(LongType).as("keep_chars"))
      labels.join(lens, "doc_id")
        .groupBy($"canon_id")
        .agg(
          max_by(struct($"doc_id", $"keep_chars"),
            struct($"keep_chars", -$"doc_id")).as("k"),
          count(lit(1)).as("n_members"))
        .select($"canon_id".as("cluster_id"), $"k.doc_id".as("keep_id"),
          $"k.keep_chars".as("keep_chars"), $"n_members")
        .orderBy($"cluster_id")
    },
    oracle = Some(componentLabelsSql(
      """SELECT cluster_id, keep_id, keep_chars, n_members FROM (
        |  SELECT c.canon_id AS cluster_id, d.doc_id AS keep_id,
        |    CAST(length(d.text) AS BIGINT) AS keep_chars,
        |    CAST(COUNT(*) OVER (PARTITION BY c.canon_id) AS BIGINT)
        |      AS n_members,
        |    row_number() OVER (PARTITION BY c.canon_id
        |      ORDER BY length(d.text) DESC, d.doc_id) AS rn
        |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
        |WHERE rn = 1
        |ORDER BY cluster_id""".stripMargin)))

  /** q_dedup_components_star (added r7) — the SAME clustering through
    * `Components.star` (large-star/small-star, O(log n) rounds): both
    * algorithms must produce identical component-minimum labels, so this
    * row shares q_dedup_components' recursive-CTE oracle verbatim — the
    * scale-path algorithm is oracle-checked end-to-end on the organic
    * fixture graph, not just on ComponentsSpec's planted ones. */
  val qDedupComponentsStar: Q = Q(
    "q_dedup_components_star",
    (s, dir) => {
      import s.implicits._
      (Components.star _).tupled(componentGraph(s, dir))
        .orderBy($"doc_id")
    },
    oracle = qDedupComponents.oracle)

  /** q_text_contamination (added r7) — benchmark DECONTAMINATION, the
    * pass every training corpus runs before shipping: per non-benchmark
    * document, the share of its distinct 3-token shingles that also
    * occur anywhere in a held-out benchmark set; docs above 50% overlap
    * are flagged as contaminated (eval data leaking into training).
    * The benchmark here is the deterministic md5-gated ~5% doc sample
    * (q_sample_deterministic's engine-portable gate); at sf0.01 the
    * flag catches exactly the 3 organic near-dup partners of benchmark
    * docs (profiled: the ratio distribution is 0–0.2 for everything
    * else), so the 0/1 flag is non-degenerate.
    *
    * Shape: both sides read the SHARED persisted shingle stage (no
    * re-shingling); the benchmark's distinct-shingle set is
    * benchmark-sized — in production benchmarks (MMLU/GSM8K/…) are
    * KILOBYTES against 100 TB of corpus, so it broadcasts and the
    * corpus side is one narrow explode + a broadcast left-semi probe +
    * one doc-keyed partial agg; the corpus never shuffles on shingle.
    */
  val qTextContamination: Q = Q(
    "q_text_contamination",
    (s, dir) => {
      import s.implicits._
      val gate = graft.Dsl.md5Gate($"doc_id", "0d")
      val sh = Shingled(s, dir)
        .select($"doc_id", explode(array_distinct($"sh")).as("g"))
      val bench = sh.where(gate).select($"g").distinct()
      val rest = sh.where(not(gate))
      val tot = rest.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
      val hits = rest.join(broadcast(bench), Seq("g"), "left_semi")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_hit"))
      tot.join(hits, Seq("doc_id"), "left")
        .select(
          $"doc_id", $"n_grams",
          coalesce($"n_hit", lit(0L)).as("n_hit"),
          round(coalesce($"n_hit", lit(0L)) / $"n_grams", 6)
            .as("contamination"),
          (coalesce($"n_hit", lit(0L)) / $"n_grams" >= 0.5).cast(LongType)
            .as("flagged"))
        .orderBy($"doc_id")
    },
    oracle = Some(
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    ${Shingles.sql("string_split(lower(text), ' ')")})) AS g
         |  FROM documents),
         |bench AS (SELECT DISTINCT g FROM sh
         |          WHERE ${graft.Dsl.md5GateSql("doc_id", "0d")}),
         |rest AS (SELECT * FROM sh
         |         WHERE NOT ${graft.Dsl.md5GateSql("doc_id", "0d")}),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM rest GROUP BY doc_id),
         |hits AS (SELECT r.doc_id, count(*) AS n_hit
         |         FROM rest r JOIN bench b ON r.g = b.g GROUP BY r.doc_id)
         |SELECT t.doc_id, t.n_grams,
         |  coalesce(h.n_hit, 0) AS n_hit,
         |  ROUND(coalesce(h.n_hit, 0) / t.n_grams, 6) AS contamination,
         |  CAST(coalesce(h.n_hit, 0) / t.n_grams >= 0.5 AS BIGINT) AS flagged
         |FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
         |ORDER BY t.doc_id""".stripMargin))

  /** The fuzzy-entity stage shared by the catalog row and ScaleSpec's
    * volume check: a 12-char squeezed "entity name" per document (the
    * shape of an exchange symbol / address / ticker in a crypto ETL),
    * with typo-grade mutations PLANTED deterministically from doc_id on
    * both engines — the fixture vocabulary carries no organic typos, so
    * the row plants what it then finds, exactly as q_text_redact_pii
    * plants PII. Mutations sit at positions 8 (substitution) and 10
    * (deletion), strictly AFTER the 6-char blocking prefix, so a
    * planted typo never escapes its block.
    *
    * Why block-then-compare: Levenshtein admits no shuffle key on its
    * own (it is not a metric embedding); production entity dedup blocks
    * on a cheap surrogate (prefix, phonetic key, sorted-neighborhood)
    * and compares only within blocks. Candidate volume is
    * Σ bucket² — bounded only if the BLOCK KEY's selectivity grows
    * with the corpus (longer prefixes / composite keys), the same rule
    * SignLsh.bitsFor applies to embedding LSH; ScaleSpec measures the
    * growth exponent under a log₁₀-scaled prefix to pin it. */
  def fuzzyEntities(docs: org.apache.spark.sql.DataFrame, blockLen: Int)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("b",
        expr("substring(replace(lower(text), ' ', ''), 1, 12)"))
      .withColumn("m1", expr(
        "CASE WHEN doc_id % 7 = 3 " +
          "THEN substring(b, 1, 7) || 'z' || substring(b, 9) ELSE b END"))
      .withColumn("name", expr(
        "CASE WHEN doc_id % 13 = 6 " +
          "THEN substring(m1, 1, 9) || substring(m1, 11) ELSE m1 END"))
      .select(col("doc_id"), col("name"),
        expr(s"substring(name, 1, $blockLen)").as("blk"))

  /** ScaleSpec's blocking-key rule (the prefix analog of
    * SignLsh.bitsFor): hold expected bucket size at `targetBucketSize`
    * by giving the key ~log₂(n/target) bits of selectivity. Natural-
    * language-ish squeezed prefixes carry ~2 bits of effective entropy
    * per character (letter frequencies + word-boundary repetition —
    * measured on the ScaleSpec corpus, where a fixed prefix reads
    * exponent ≈ 1.9), so chars = log₂(n/target)/2, plus the leading
    * character. The catalog row pins blockLen=6 because its oracle SQL
    * is one static string across all fixture SFs. */
  def fuzzyBlockLen(n: Long, targetBucketSize: Int = 16): Int =
    // Floor of 2: at n <= target the log goes non-positive and an
    // unguarded result of <= 1 would silently yield near-empty prefixes
    // (one giant bucket — the exact quadratic failure the rule exists
    // to prevent).
    math.max(2, 1 + math.ceil(
      math.log(n.toDouble / targetBucketSize) / math.log(2) / 2.0).toInt)

  /** q_dedup_fuzzy (added r8) — typo-grade entity dedup via edit
    * distance, the dedup class the token/shingle family cannot see: a
    * single-character symbol or address variant shares no 3-shingle
    * with its original, but sits at Levenshtein 1. Candidates come
    * from 6-char prefix blocks (NEVER all-pairs — see fuzzyEntities);
    * a pair survives at 1 ≤ lev ≤ 2 (0 = exact dup, q_dedup_exact's
    * job; ≥3 = different entity). `levenshtein` is built-in on both
    * engines with identical unit-cost semantics, so the row is
    * oracle-eligible, unlike the hash-family T rows. */
  val qDedupFuzzy: Q = Q(
    "q_dedup_fuzzy",
    (s, dir) => {
      import s.implicits._
      val ents = fuzzyEntities(Tables.documents(s, dir), 6)
      ents.as("a")
        .join(ents.as("b"),
          col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
        .where(levenshtein(col("a.name"), col("b.name")).between(1, 2))
        .select(
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.name").as("name_a"), col("b.name").as("name_b"),
          levenshtein(col("a.name"), col("b.name")).cast("long").as("lev"))
        .orderBy($"doc_a", $"doc_b")
    },
    oracle = Some(
      """WITH ents AS (
        |  SELECT doc_id, name, substring(name, 1, 6) AS blk FROM (
        |    SELECT doc_id,
        |      CASE WHEN doc_id % 13 = 6
        |           THEN substring(m1, 1, 9) || substring(m1, 11)
        |           ELSE m1 END AS name
        |    FROM (
        |      SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 3
        |             THEN substring(b, 1, 7) || 'z' || substring(b, 9)
        |             ELSE b END AS m1
        |      FROM (
        |        SELECT doc_id,
        |          substring(replace(lower(text), ' ', ''), 1, 12) AS b
        |        FROM documents))))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
        |FROM ents a JOIN ents b
        |  ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 2
        |ORDER BY doc_a, doc_b""".stripMargin))

  /** q_dedup_sorted_neighborhood (added r8) — the VOLUME-OPTIMAL
    * refinement of blocked fuzzy dedup: sort entities within each
    * block and compare only rank-neighbors within a window of w=4,
    * so within-block candidate volume drops from bucket²/2 to
    * bucket·(w−1) — LINEAR in the bucket, which is what lets the
    * block be coarser (4-char prefix here vs q_dedup_fuzzy's 6) and
    * recall higher for same-prefix variants, at the price of missing
    * pairs more than w−1 sort positions apart.
    *
    * Spark shape: the rank is a window PARTITIONED BY block (never a
    * global Window.orderBy — no single-partition funnel), and the
    * neighbor pairing is a PURE EQUI JOIN: the left side explodes
    * offsets 1..w−1 and joins on (blk, rn + off) = (blk, rn), so the
    * planner sees a plain keyed shuffle join, not a range/theta
    * condition. The DuckDB twin states the same pairing as
    * `b.rn − a.rn BETWEEN 1 AND 3` — declaratively identical. */
  val qDedupSortedNeighborhood: Q = Q(
    "q_dedup_sorted_neighborhood",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"blk").orderBy($"name", $"doc_id")
      val ranked = fuzzyEntities(Tables.documents(s, dir), 4)
        .withColumn("rn", row_number().over(w))
      val lhs = ranked
        .withColumn("off", explode(typedLit(Seq(1, 2, 3))))
        .select($"blk", ($"rn" + $"off").as("rn2"),
          $"doc_id".as("doc_a"), $"name".as("name_a"))
      lhs.join(ranked
            .select($"blk", $"rn".as("rn2"),
              $"doc_id".as("doc_b"), $"name".as("name_b")),
          Seq("blk", "rn2"))
        .where(levenshtein($"name_a", $"name_b").between(1, 2))
        .select($"doc_a", $"doc_b", $"name_a", $"name_b",
          levenshtein($"name_a", $"name_b").cast("long").as("lev"))
        .orderBy($"doc_a", $"doc_b")
    },
    oracle = Some(
      """WITH ents AS (
        |  SELECT doc_id, name, substring(name, 1, 4) AS blk FROM (
        |    SELECT doc_id,
        |      CASE WHEN doc_id % 13 = 6
        |           THEN substring(m1, 1, 9) || substring(m1, 11)
        |           ELSE m1 END AS name
        |    FROM (
        |      SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 3
        |             THEN substring(b, 1, 7) || 'z' || substring(b, 9)
        |             ELSE b END AS m1
        |      FROM (
        |        SELECT doc_id,
        |          substring(replace(lower(text), ' ', ''), 1, 12) AS b
        |        FROM documents)))),
        |ranked AS (
        |  SELECT doc_id, name, blk,
        |    row_number() OVER (PARTITION BY blk ORDER BY name, doc_id) AS rn
        |  FROM ents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
        |FROM ranked a JOIN ranked b
        |  ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3
        |WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 2
        |ORDER BY doc_a, doc_b""".stripMargin))

  /** q_dedup_ppjoin (added r8) — EXACT set-similarity join via prefix
    * filtering (the PPJoin/AllPairs family, Bayardo et al. / Xiao et
    * al.): ALL pairs with shingle-set Jaccard ≥ 0.5, sub-quadratically,
    * with NO loss. The one theorem doing the work: under any single
    * GLOBAL total order of tokens, two sets with Jaccard ≥ t must share
    * a token within each one's first |x| − ⌈t·|x|⌉ + 1 tokens — so
    * candidates = pairs sharing a PREFIX token, and rare-token-first
    * ordering (ascending corpus frequency) makes those prefix buckets
    * the smallest possible. This completes the set-similarity triangle:
    * q_dedup_ngram_jaccard is exact-but-lossy (prefix-KEY blocking can
    * miss pairs), MinHash-LSH is complete-ish-but-approximate; PPJoin
    * is exact AND complete — which is why its DuckDB twin can be the
    * brute-force ALL-PAIRS join: a hash match against ground truth
    * proves the pruning lossless, not just plausible.
    *
    * Scale shape: token frequencies collapse to the shingle vocabulary
    * (corpus-bounded, broadcast); per-doc rare-first ranking is one
    * doc-keyed window; candidate generation is an equi self-join on the
    * prefix token (buckets = docs sharing a RARE shingle — small by
    * construction), pruned further by the AllPairs length bound and
    * (r9) PPJoin's positional bound — see [[ppjoinCandidates]];
    * verification joins the candidate ids back to the shingle stage
    * (doc-keyed) and computes exact intersection sizes. Every join is
    * keyed; nothing is all-pairs. */
  /** PPJoin candidate pairs at Jaccard ≥ 0.5: the equi self-join on
    * rare-first prefix tokens, filtered by the AllPairs LENGTH bound
    * and — when `positional` — PPJoin's POSITIONAL bound (the "PP"):
    * a pair matched on a prefix token at 1-based rare-first positions
    * (pa, pb) can share at most 1 + min(|A|−pa, |B|−pb) tokens (the
    * match itself plus both suffixes), while J ≥ t needs overlap
    * ≥ ⌈t·(|A|+|B|)/(1+t)⌉ — rows whose own bound can't reach that
    * are dropped BEFORE the distinct + exact-intersection verify.
    * Lossless: a truly-similar pair's FIRST common token in the global
    * order sits inside both prefixes and all the overlap at-or-after
    * it, so that row's bound ≥ the true overlap ≥ the threshold — at
    * least one matched row always survives. The flag exists so
    * PpjoinSpec can pin the candidate-count reduction and the
    * equality of the surviving pair set. */
  private[graft] def ppjoinCandidates(
      s: SparkSession, dir: String, positional: Boolean): DataFrame = {
    import s.implicits._
    val docs = Shingled(s, dir)
      .select($"doc_id", array_distinct($"sh").as("sh"))
    val ex = docs.select($"doc_id", size($"sh").as("len"),
      explode($"sh").as("g"))
    val freq = ex.groupBy($"g").agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"f", $"g")
    val prefix = ex.join(broadcast(freq), "g")
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= $"len" - ceil($"len" * 0.5) + 1)
      .select($"doc_id", $"g", $"len", $"rn")
    // AllPairs length filter: J(A,B) >= t forces
    // t*max(|A|,|B|) <= min(|A|,|B|) — a NECESSARY condition, so
    // dropping pairs that violate it stays lossless while sparing
    // them the exact-intersection verify.
    val lengthOk =
      greatest(col("a.len"), col("b.len")) * 0.5 <=
        least(col("a.len"), col("b.len"))
    // Positional filter: overlap ≤ 1 + min(suffix lengths past the
    // matched prefix position); required overlap for t = 0.5 is
    // ⌈(|A|+|B|)/3⌉ (α = ⌈t·(la+lb)/(1+t)⌉).
    val positionOk =
      lit(1) + least(col("a.len") - col("a.rn"),
        col("b.len") - col("b.rn")) >=
        ceil((col("a.len") + col("b.len")) / 3.0)
    val cond = col("a.g") === col("b.g") &&
      col("a.doc_id") < col("b.doc_id") &&
      (if (positional) lengthOk && positionOk else lengthOk)
    prefix.as("a").join(prefix.as("b"), cond)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  val qDedupPpjoin: Q = Q(
    "q_dedup_ppjoin",
    (s, dir) => {
      import s.implicits._
      val docs = Shingled(s, dir)
        .select($"doc_id", array_distinct($"sh").as("sh"))
      ppjoinCandidates(s, dir, positional = true)
        .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sha")), "doc_a")
        .join(docs.select($"doc_id".as("doc_b"), $"sh".as("shb")), "doc_b")
        .select($"doc_a", $"doc_b",
          size(array_intersect($"sha", $"shb")).cast(DoubleType).as("ni"),
          (size($"sha") + size($"shb")).cast(DoubleType).as("nab"))
        .select($"doc_a", $"doc_b",
          round($"ni" / ($"nab" - $"ni"), 6).as("jaccard"))
        .where($"jaccard" >= 0.5)
        .orderBy($"doc_a", $"doc_b")
    },
    oracle = Some(
      // Deliberately ALL-PAIRS: the ground truth the prefix filter must
      // reproduce exactly. (Fine at oracle scale; the sub-quadratic
      // plan is the Spark side's job.)
      s"""SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    ROUND(
         |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - len(list_intersect(a.sh, b.sh))),
         |      6) AS jaccard
         |  FROM (SELECT doc_id,
         |          list_distinct(${Shingles.sql("string_split(lower(text), ' ')")}) AS sh
         |        FROM documents) a
         |  JOIN (SELECT doc_id,
         |          list_distinct(${Shingles.sql("string_split(lower(text), ' ')")}) AS sh
         |        FROM documents) b
         |    ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin))

  /** q_dedup_substring — REPEATED-SPAN audit, the character-level
    * (not token-level) dedup signal: per document, how many of its
    * 40-char spans (stride 10) also occur in ANOTHER document — the
    * Spark-shaped form of exact-substring training-data dedup (Lee et
    * al. 2022 build a corpus suffix array to find verbatim repeated
    * spans; distributed, the same signal comes from fixed-stride
    * fingerprint grams + one gram-keyed count, no global suffix
    * structure). Complements the token-shingle family: boilerplate
    * and licence blocks repeat VERBATIM across documents mid-text,
    * where prefix blocking never looks. ~4.5% of distinct grams are
    * cross-doc at sf0.01 (profiled) — non-degenerate.
    *
    * Scale: gram extraction is a narrow per-row transform (stride 10
    * bounds volume at len/10 grams/doc — the fan-out width pinned
    * like q_text_char_trigrams); the distinct-doc count is one
    * gram-keyed partial agg; flagging re-joins grams→counts on the
    * gram key. All integer, dup share in exact ppm. */
  /** The 40-char stride-10 fingerprint grams of a (doc_id, text)
    * corpus — the [[qDedupSubstring]] fan-out stage, factored so
    * ScaleSpec certifies THIS code's growth, not a drifting copy.
    * Span positions derive from length(text), the same basis as the
    * DuckDB twin's len(text) — deriving them from the LOWERED string
    * would diverge wherever a case mapping changes string length
    * (e.g. İ → i̇ under full case folding), and a lower()-shortened
    * text under 40 chars would make sequence(1, n≤0) emit a
    * DESCENDING [1, 0] with a negative substring position. The
    * repartition pins the fan-out width (the q_text_char_trigrams
    * lesson — AQE coalesces the tiny pre-explode shuffle). */
  private[graft] def spanGrams(docs: org.apache.spark.sql.DataFrame,
      parallelism: Int): org.apache.spark.sql.DataFrame =
    docs
      .where(length(col("text")) >= 40)
      .select(col("doc_id"), length(col("text")).as("n"),
        lower(col("text")).as("lt"))
      .repartition(parallelism, col("doc_id"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, (n - 40) div 10 + 1), " +
          "i -> substring(lt, (i - 1) * 10 + 1, 40))")).as("g"))

  /** Memo'd + persisted gram stage over the fixture corpus: the query
    * consumes the grams TWICE (distinct-doc counts + the flag re-join)
    * — un-persisted, the scan + shuffle + 40-char explode would run
    * twice per query (the shared shingle/token stage convention). */
  private val spanGramCache =
    new graft.Memo[(SparkSession, String), org.apache.spark.sql.DataFrame]

  private def spanGramsOf(s: SparkSession, dir: String) =
    spanGramCache((s, dir)) {
      spanGrams(Tables.documents(s, dir), s.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  val qDedupSubstring: Q = Q(
    "q_dedup_substring",
    (s, dir) => {
      import s.implicits._
      val grams = spanGramsOf(s, dir)
      val cnt = grams.groupBy($"g")
        .agg(countDistinct($"doc_id").as("nd"))
      grams.join(cnt, "g")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when($"nd" > 1, 1L).otherwise(0L)).as("n_dup_spans"))
        .select($"doc_id", $"n_spans", $"n_dup_spans",
          expr("n_dup_spans * 1000000 div n_spans").as("dup_ppm"))
        .orderBy($"doc_id")
    },
    oracle = Some(
      """WITH grams AS (
        |  SELECT doc_id, substring(lower(text), (i - 1) * 10 + 1, 40) AS g
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, (len(text) - 40) // 10 + 2)) AS i
        |        FROM documents WHERE len(text) >= 40)),
        |cnt AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY g)
        |SELECT doc_id, COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_spans,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // COUNT(*) AS dup_ppm
        |FROM grams JOIN cnt USING (g)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin))

  /** q_dedup_containment — ASYMMETRIC shingle-set containment:
    * cont(A→B) = |A∩B| / |A| at threshold 0.8 — the "A is mostly
    * inside B" relation that SYMMETRIC Jaccard structurally misses: a
    * short doc fully embedded in a long one has tiny Jaccard (the
    * union is dominated by B) but containment 1.0, and that is exactly
    * the boilerplate-extraction / quote-detection / "train doc embeds
    * the benchmark" shape a corpus pipeline must catch (the reason
    * benchmark-contamination checks are containment-, not
    * Jaccard-based). Emits ORDERED pairs (sub, super) — both
    * directions are distinct findings. Same prefix-block candidate
    * stage as [[qDedupNgramJaccard]] (one definition of candidacy
    * across the set-similarity rows; block keys grow with corpus size
    * per the fuzzyBlockLen rule); the division is the only float,
    * rounded at 6 dp, over exact intersection/size integers.
    * Scale: blocked equi join, never all-pairs; array_intersect on
    * ≤ 100-element distinct shingle arrays is per-pair codegen work. */
  val qDedupContainment: Q = Q(
    "q_dedup_containment",
    (s, dir) => {
      import s.implicits._
      val keyed = Shingled(s, dir)
        .select($"k", $"doc_id", array_distinct($"sh").as("sh"))
      keyed.as("a")
        .join(keyed.as("b"),
          col("a.k") === col("b.k") && col("a.doc_id") =!= col("b.doc_id"))
        .select(
          col("a.doc_id").as("doc_sub"),
          col("b.doc_id").as("doc_super"),
          size(array_intersect(col("a.sh"), col("b.sh"))).cast(DoubleType)
            .as("ni"),
          size(col("a.sh")).cast(DoubleType).as("na"))
        .select($"doc_sub", $"doc_super",
          round($"ni" / $"na", 6).as("containment"))
        .where($"containment" >= 0.8)
        .orderBy($"doc_sub", $"doc_super")
    },
    oracle = Some(
      s"""SELECT doc_sub, doc_super, containment FROM (
         |  SELECT a.doc_id AS doc_sub, b.doc_id AS doc_super,
         |    ROUND(
         |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      CAST(len(a.sh) AS DOUBLE), 6) AS containment
         |  FROM (SELECT doc_id, substring(lower(text), 1, 40) AS k,
         |          list_distinct(${Shingles.sql("string_split(lower(text), ' ')")}) AS sh
         |        FROM documents) a
         |  JOIN (SELECT doc_id, substring(lower(text), 1, 40) AS k,
         |          list_distinct(${Shingles.sql("string_split(lower(text), ' ')")}) AS sh
         |        FROM documents) b
         |    ON a.k = b.k AND a.doc_id <> b.doc_id)
         |WHERE containment >= 0.8
         |ORDER BY doc_sub, doc_super""".stripMargin))

  /** q_dedup_jaro (T) — Jaro–Winkler entity matching over the
    * [[fuzzyEntities]] planted-typo stage, through the native
    * [[graft.functions.JaroWinkler]] codegen expression (registered as
    * `jaro_winkler` via GraftExtensions): the record-linkage similarity
    * [[qDedupFuzzy]]'s Levenshtein threshold misranks — a swapped
    * adjacent pair costs edit distance 2 (indistinguishable from two
    * unrelated typos) but only one Jaro transposition, and Winkler's
    * prefix boost matches how identifiers diverge at the tail.
    * Same blocked candidate generation (never all-pairs); threshold
    * 0.9 clears the planted single-typo pairs while unrelated
    * same-block names (6 shared + 6 differing chars → jaro ≈ 0.67,
    * under the 0.7 boost gate) stay out.
    *
    * T-row: the expression is engine-native (DuckDB's
    * jaro_winkler_similarity applies the boost UNCONDITIONALLY — a
    * different function on low-jaro pairs); JaroWinklerSpec pins the
    * textbook values, an independent reimplementation sweep, the boost
    * gate, and codegen/eval agreement. */
  val qDedupJaro: Q = Q(
    "q_dedup_jaro",
    (s, dir) => {
      import s.implicits._
      val ents = fuzzyEntities(Tables.documents(s, dir), 6)
      ents.as("a")
        .join(ents.as("b"),
          col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.name").as("name_a"), col("b.name").as("name_b"),
          round(expr("jaro_winkler(a.name, b.name)"), 6).as("jw"))
        .where($"jw" >= 0.9)
        .orderBy($"doc_a", $"doc_b")
    })

  /** Cross-document SPAN-level dedup — the "50-token repeated span"
    * pass a production corpus runs alongside doc-level MinHash. The
    * engine's winnowing fingerprints ([[TextQueries.Fingerprint]],
    * gram = 8, window = 16) are the candidate generator: any shared
    * substring of length ≥ window + gram − 1 = 23 chars selects the
    * SAME (content-determined) fingerprint at the aligned position in
    * both documents — winnowing picks each window's min by (h44, pos)
    * and within a fully-shared window the h44 sequence is identical, so
    * the leftmost-min falls at the same relative offset in both docs.
    * So an equi self-join on the fingerprint hash yields delta-aligned
    * seeds covering EVERY true span ≥ [[spanMinLen]], and the
    * char-verified [[graft.functions.SpanExtend]] expression grows each
    * seed to its maximal common run — false hash-collision seeds can
    * only produce true-but-short runs, dropped by the length filter, so
    * the reported set is EXACTLY the maximal shared runs ≥ spanMinLen
    * (the brute L-gram DuckDB twin computes the same set from first
    * principles with zero shared code).
    *
    * Scale (100 TB): fingerprints are a per-doc narrow transform with
    * ~2/(window+1) density (sparse — ~8× fewer rows than grams); the
    * seed join is an equi join on a 44-bit key — candidates grow with
    * FINGERPRINT COLLISIONS, never doc pairs (SpanDedupSpec pins the
    * curve); texts attach through two doc_id equi joins (at 100 TB each
    * a standard shuffle join against the corpus table); extension is
    * per-seed O(run length) for ASCII text — the span_extend byte-walk
    * fast path reads the UTF8String in place, zero allocation — and a
    * per-seed O(doc length) decode on non-ASCII documents (the honest
    * bound there; SpanExtend's doc), duplicates collapsing under
    * distinct.
    * Redundant seeds inside one long run (≤ run_len/window of them) are
    * the accepted cost of exactness — a pre-reduction per (pair, delta)
    * pos-island would drop all but one seed per island but can merge
    * two nearby runs into one island and miss the second; at 100 TB
    * you'd bound it by pre-chunking documents (the fingerprint stage's
    * own < 2^20-gram contract) which caps run length per chunk. */
  val spanMinLen = 50

  /** Memo'd span report — [[qDedupSpanClean]]'s input (the shared-stage
    * convention: at 100 TB the span report is a written table the
    * cleaning job scans). [[qDedupSpans]] itself does NOT read this
    * memo (r14 verdict #2, bench honesty): the r14 cut memo'd the
    * report for both rows, so the span pipeline's steady-state cost
    * lived only in warmup_sec while the timed medians re-scanned a
    * persisted frame — the spans row now re-runs seeds → extend →
    * distinct from the persisted [[Fingerprints]] stage every rep, the
    * exact q_vec_index_refit per-rep-reset precedent (the fingerprint
    * stage build itself stays a warmup item, the shingle-stage
    * precedent). Columns: doc_a < doc_b, 1-based start_a/start_b,
    * span_len ≥ [[spanMinLen]], span (the shared text itself). */
  private val spanCache =
    new graft.Memo[(SparkSession, String), DataFrame]

  /** Delta-aligned candidate seeds from a caller-supplied fingerprint
    * frame: the fingerprint equi self-join. Factored so SpanDedupSpec
    * certifies THIS code's candidate growth (∝ fingerprint collisions,
    * never doc pairs), and so span consumers can pass the shared
    * persisted [[Fingerprints]] stage instead of re-fingerprinting. */
  private[graft] def seedsFromFps(fps: DataFrame): DataFrame = {
    val a = fps.select(col("doc_id").as("doc_a"),
      col("pos").cast("int").as("pa"), col("fp"))
    val b = fps.select(col("doc_id").as("doc_b"),
      col("pos").cast("int").as("pb"), col("fp"))
    a.join(b, Seq("fp"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
  }

  /** [[seedsFromFps]] over freshly-computed fingerprints (spec entry
    * point for arbitrary planted corpora). */
  private[graft] def spanSeeds(docs: DataFrame): DataFrame =
    seedsFromFps(TextQueries.Fingerprint.fingerprints(docs))

  /** Seed extension tail shared by every span consumer (batch self-join,
    * cross-side decontamination and the streaming maintained index):
    * (doc_a, doc_b, pa, pb) seeds → text attach → char-verified maximal
    * extension → length filter → distinct. `docs` must hold the texts of
    * every doc_id the seeds reference. */
  private[graft] def extendSeeds(seeds: DataFrame,
      docs0: DataFrame): DataFrame = {
    // Per-DOCUMENT ASCII flags, computed once on the doc side of the
    // join (r15): span_extend's internal ASCII/BMP dispatch re-scans
    // BOTH full documents on EVERY call, and seeds outnumber documents
    // by ~4 orders of magnitude at sf0.1 (79M seeds, 3k docs) — jstack
    // sampling put 76% of the extension stage inside that per-call
    // isFullAscii scan. `length = octet_length` ⟺ every char encodes
    // to one UTF-8 byte ⟺ full ASCII, evaluated once per doc row; the
    // per-seed guard is then two broadcast-carried booleans routing to
    // span_extend_ascii (the scan-free walk). The otherwise branch
    // keeps the self-checking span_extend, so non-ASCII documents are
    // exact, just unhinted. Output is bit-identical by construction
    // (extendAscii IS span_extend's ASCII branch; SpanDedupSpec pins
    // the composition on a mixed-script corpus).
    val docs = docs0.select(col("doc_id"), col("text"),
      (length(col("text")) === expr("octet_length(text)")).as("ascii"))
    val mask = graft.functions.SpanExtend.fieldMax
    seeds
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta"),
        col("ascii").as("_aa")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb"),
        col("ascii").as("_ab")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ta"),
        when(col("_aa") && col("_ab"),
          expr("span_extend_ascii(ta, tb, pa, pb)"))
          .otherwise(expr("span_extend(ta, tb, pa, pb)")).as("p"))
      .where(col("p").bitwiseAND(lit(mask)) >= spanMinLen)
      .select(col("doc_a"), col("doc_b"),
        shiftrightunsigned(col("p"), 42).as("start_a"),
        shiftrightunsigned(col("p"), 21).bitwiseAND(lit(mask)).as("start_b"),
        col("p").bitwiseAND(lit(mask)).as("span_len"),
        expr("substring(ta, cast(shiftrightunsigned(p, 42) as int), " +
          s"cast(p & $mask as int))").as("span"))
      .distinct()
  }

  /** The full span pipeline over an arbitrary (doc_id, text) corpus —
    * [[seedsFromFps]] over `fps` (the caller's fingerprint frame, so the
    * corpus stage is computed once per session, not once per consumer)
    * fed through [[extendSeeds]]. SpanDedupSpec pins it equal to a
    * brute-force maximal-common-run scan on planted fixtures. */
  private[graft] def spansOf(docs0: DataFrame, fps: DataFrame): DataFrame =
    extendSeeds(seedsFromFps(fps), docs0)

  /** [[spansOf]] with internally-computed fingerprints (spec entry
    * point for arbitrary planted corpora). */
  private[graft] def spansOf(docs0: DataFrame): DataFrame =
    spansOf(docs0, TextQueries.Fingerprint.fingerprints(
      docs0.select(col("doc_id"), col("text"))))

  /** The corpus WINNOWING-FINGERPRINT stage, memo'd + persisted (the
    * written fingerprint table a production pipeline computes once and
    * every span consumer scans): q_dedup_spans' self-join and
    * q_contamination_spans' cross-side probe both read THIS instead of
    * re-fingerprinting the corpus per query. */
  private val fpCache = new graft.Memo[(SparkSession, String), DataFrame]

  private[graft] def Fingerprints(s: SparkSession, dir: String): DataFrame =
    fpCache((s, dir)) {
      // The fixture corpus arrives as ONE parquet file = one input
      // partition, and winnowing is a per-doc mapPartitions — without
      // the repartition the whole stage (and everything persisted
      // downstream of it) runs in a single map task (the DocStage
      // staging rule). Production corpora arrive as many files and
      // never need it; the tiny doc-row shuffle is noise next to the
      // per-gram hashing it parallelizes.
      TextQueries.Fingerprint.fingerprints(
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .repartition(col("doc_id")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  private[graft] def sharedSpans(s: SparkSession, dir: String): DataFrame =
    spanCache((s, dir)) {
      spansOf(Tables.documents(s, dir), Fingerprints(s, dir))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The brute-force DuckDB twin of the span pipeline, shared by both
    * span oracles: two docs share a run of length ≥ L iff they share an
    * L-gram; matched L-gram positions at a fixed alignment delta are
    * closed under gaps, so per-(pair, delta) pos-islands ARE the
    * maximal runs: [min pos, max pos + L − 1]. Exact, zero shared code
    * with the Spark path (no fingerprints, no extension). */
  private def spanOracleCte: String =
    s"""grams AS (
       |  SELECT doc_id, i AS pos, substring(text, i, $spanMinLen) AS g
       |  FROM documents, LATERAL unnest(
       |    range(1, greatest(length(text) - ${spanMinLen - 1}, 0) + 1)) AS t(i)),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
       |         a.pos - b.pos AS delta
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT doc_a, doc_b, delta, pa, pb,
       |         pa - row_number() OVER (
       |           PARTITION BY doc_a, doc_b, delta ORDER BY pa) AS grp
       |  FROM cand),
       |spans AS (
       |  SELECT doc_a, doc_b, min(pa) AS start_a, min(pb) AS start_b,
       |         max(pa) - min(pa) + $spanMinLen AS span_len
       |  FROM isl GROUP BY doc_a, doc_b, delta, grp)""".stripMargin

  /** q_dedup_spans — the cross-document shared-span report: every
    * maximal common run of ≥ [[spanMinLen]] chars between any two
    * documents, with 1-based offsets in both and the span text.
    * Recomputes the steady-state span pipeline (seeds → extend →
    * distinct over the persisted [[Fingerprints]] stage) per
    * invocation, so its bench median times the span COMPUTE, not a
    * cached-report scan (see the spanCache note). */
  val qDedupSpans: Q = Q(
    "q_dedup_spans",
    (s, dir) => {
      import s.implicits._
      spansOf(Tables.documents(s, dir), Fingerprints(s, dir))
        .orderBy($"doc_a", $"doc_b", $"start_a", $"start_b")
    },
    oracle = Some(
      s"""WITH $spanOracleCte
         |SELECT s.doc_a, s.doc_b, s.start_a, s.start_b, s.span_len,
         |  substring(d.text, CAST(s.start_a AS INT),
         |    CAST(s.span_len AS INT)) AS span
         |FROM spans s JOIN documents d ON d.doc_id = s.doc_a
         |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin))

  /** q_dedup_span_clean — the cleaned-corpus projection with keep-FIRST
    * survivor semantics: the smallest doc_id containing a shared span
    * keeps it; every LATER document (the doc_b side of a report row)
    * has the chars covered by any such span excised. Interval merge +
    * splice is a per-doc sorted aggregate HOF — overlapping intervals
    * union via a running greatest(end); the kept text is the gaps
    * between merged intervals plus the tail. Unaffected docs pass
    * through verbatim. The DuckDB twin removes covered char POSITIONS
    * (anti-join) and reassembles with an ordered string_agg — a second
    * independent formulation of the same excision. */
  val qDedupSpanClean: Q = Q(
    "q_dedup_span_clean",
    (s, dir) => {
      import s.implicits._
      val iv = sharedSpans(s, dir)
        .select($"doc_b".as("doc_id"),
          struct($"start_b".as("s"), ($"start_b" + $"span_len" - 1).as("e"))
            .as("se"))
        .groupBy($"doc_id")
        .agg(sort_array(collect_list($"se")).as("iv"))
      Tables.documents(s, dir).select($"doc_id", $"text")
        .join(iv, Seq("doc_id"), "left")
        .select($"doc_id", $"text",
          when($"iv".isNull, $"text").otherwise(expr(
            """aggregate(iv,
              |  struct(cast(0 as bigint) as last, '' as acc),
              |  (st, x) -> struct(
              |    greatest(st.last, x.e) as last,
              |    if(x.s > st.last + 1,
              |       concat(st.acc, substring(text, cast(st.last + 1 as int),
              |         cast(x.s - st.last - 1 as int))),
              |       st.acc) as acc),
              |  st -> concat(st.acc,
              |    substring(text, cast(st.last + 1 as int))))""".stripMargin))
            .as("clean_text"))
        .select($"doc_id", $"clean_text",
          (length($"text") - length($"clean_text")).cast(LongType)
            .as("n_removed"))
        .orderBy($"doc_id")
    },
    oracle = Some(
      s"""WITH $spanOracleCte,
         |cov AS (
         |  SELECT DISTINCT s.doc_b AS doc_id, p
         |  FROM spans s, LATERAL unnest(
         |    range(s.start_b, s.start_b + s.span_len)) AS t(p)),
         |chars AS (
         |  SELECT d.doc_id, i, substring(d.text, CAST(i AS INT), 1) AS ch
         |  FROM documents d, LATERAL unnest(
         |    range(1, length(d.text) + 1)) AS t(i))
         |SELECT c.doc_id AS doc_id,
         |  coalesce(string_agg(CASE WHEN cov.p IS NULL THEN c.ch END, ''
         |    ORDER BY c.i), '') AS clean_text,
         |  CAST(SUM(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_removed
         |FROM chars c LEFT JOIN cov ON cov.doc_id = c.doc_id AND cov.p = c.i
         |GROUP BY c.doc_id
         |ORDER BY c.doc_id""".stripMargin))

  /** Cross-SIDE span pipeline — maximal common runs ≥ [[spanMinLen]]
    * between two disjoint corpora (training side × benchmark side).
    * Same seeds→extend→distinct shape as [[spansOf]], but the benchmark
    * side BROADCASTS (fingerprints AND texts): production benchmarks
    * are kilobytes against 100 TB of corpus, so the training side never
    * shuffles — one narrow fingerprint pass + two broadcast joins +
    * per-seed extension. */
  private[graft] def crossSpans(restDocs: DataFrame,
      benchDocs: DataFrame): DataFrame =
    crossSpansFromFps(restDocs, benchDocs,
      TextQueries.Fingerprint.fingerprints(
        restDocs.select(col("doc_id"), col("text"))),
      TextQueries.Fingerprint.fingerprints(
        benchDocs.select(col("doc_id"), col("text"))))

  /** [[crossSpans]] with caller-supplied fingerprint frames — the
    * catalog row passes gate-filtered slices of the shared persisted
    * [[Fingerprints]] stage instead of re-fingerprinting per rep. */
  private[graft] def crossSpansFromFps(restDocs: DataFrame,
      benchDocs: DataFrame, restFps: DataFrame,
      benchFps: DataFrame): DataFrame = {
    val rest = restDocs.select(col("doc_id"), col("text"))
    val bench = benchDocs.select(col("doc_id"), col("text"))
    val rf = restFps
      .select(col("doc_id").as("doc_r"), col("pos").cast("int").as("pr"),
        col("fp"))
    val bf = benchFps
      .select(col("doc_id").as("doc_b"), col("pos").cast("int").as("pb"),
        col("fp"))
    val mask = graft.functions.SpanExtend.fieldMax
    // Same per-doc ASCII hint as extendSeeds (see there): the flags
    // ride the text attachments, the guard routes to the scan-free
    // span_extend_ascii walk.
    val ascii = length(col("text")) === expr("octet_length(text)")
    rf.join(broadcast(bf), Seq("fp"))
      .join(rest.select(col("doc_id").as("doc_r"), col("text").as("tr"),
        ascii.as("_ar")), Seq("doc_r"))
      .join(broadcast(
        bench.select(col("doc_id").as("doc_b"), col("text").as("tb"),
          ascii.as("_ab"))), Seq("doc_b"))
      .select(col("doc_r"), col("doc_b"),
        when(col("_ar") && col("_ab"),
          expr("span_extend_ascii(tr, tb, pr, pb)"))
          .otherwise(expr("span_extend(tr, tb, pr, pb)")).as("p"))
      .where(col("p").bitwiseAND(lit(mask)) >= spanMinLen)
      .select(col("doc_r"), col("doc_b"),
        shiftrightunsigned(col("p"), 42).as("start_r"),
        shiftrightunsigned(col("p"), 21).bitwiseAND(lit(mask)).as("start_b"),
        col("p").bitwiseAND(lit(mask)).as("span_len"))
      .distinct()
  }

  /** q_contamination_spans — SPAN-level benchmark decontamination, the
    * verbatim-overlap companion to [[qTextContamination]]'s shingle
    * containment: per training document, the maximal ≥ 50-char runs it
    * shares VERBATIM with any held-out benchmark document (the "did an
    * eval question leak into training, literally" check — shingle
    * containment can be diluted by a long training doc, a 50-char
    * verbatim run cannot). Benchmark = the same deterministic md5-gated
    * ~5% doc sample as the shingle row. Only contaminated docs report:
    * (doc_id, n_spans, n_bench_docs, max_len). DuckDB twin is the brute
    * cross-side L-gram islands formulation — zero shared code. */
  val qContaminationSpans: Q = Q(
    "q_contamination_spans",
    (s, dir) => {
      import s.implicits._
      val gate = graft.Dsl.md5Gate($"doc_id", "0d")
      val docs = Tables.documents(s, dir)
      val fps = Fingerprints(s, dir)
      crossSpansFromFps(docs.where(not(gate)), docs.where(gate),
        fps.where(not(gate)), fps.where(gate))
        .groupBy($"doc_r")
        .agg(count(lit(1)).as("n_spans"),
          countDistinct($"doc_b").as("n_bench_docs"),
          max($"span_len").as("max_len"))
        .select($"doc_r".as("doc_id"), $"n_spans", $"n_bench_docs",
          $"max_len")
        .orderBy($"doc_id")
    },
    oracle = Some(
      s"""WITH grams AS (
         |  SELECT doc_id, i AS pos, substring(text, i, $spanMinLen) AS g
         |  FROM documents, LATERAL unnest(
         |    range(1, greatest(length(text) - ${spanMinLen - 1}, 0) + 1)) AS t(i)),
         |cand AS (
         |  SELECT r.doc_id AS doc_r, b.doc_id AS doc_b, r.pos AS pr,
         |         r.pos - b.pos AS delta
         |  FROM (SELECT * FROM grams
         |        WHERE NOT ${graft.Dsl.md5GateSql("doc_id", "0d")}) r
         |  JOIN (SELECT * FROM grams
         |        WHERE ${graft.Dsl.md5GateSql("doc_id", "0d")}) b
         |    ON r.g = b.g),
         |isl AS (
         |  SELECT doc_r, doc_b, delta, pr,
         |         pr - row_number() OVER (
         |           PARTITION BY doc_r, doc_b, delta ORDER BY pr) AS grp
         |  FROM cand),
         |spans AS (
         |  SELECT doc_r, doc_b,
         |         max(pr) - min(pr) + $spanMinLen AS span_len
         |  FROM isl GROUP BY doc_r, doc_b, delta, grp)
         |SELECT doc_r AS doc_id, count(*) AS n_spans,
         |  CAST(count(DISTINCT doc_b) AS BIGINT) AS n_bench_docs,
         |  CAST(max(span_len) AS BIGINT) AS max_len
         |FROM spans GROUP BY doc_r
         |ORDER BY doc_id""".stripMargin))

  val all: Vector[Q] = Vector(
    qDedupShingleStage, qDedupExact, qDedupNear, qDedupMinhash,
    qDedupNgramJaccard, qDedupSimhash, qDedupPipeline, qDedupComponents,
    qDedupComponentsStar, qDedupClusterSizes, qDedupCanonical,
    qTextContamination, qDedupFuzzy,
    qDedupSortedNeighborhood, qDedupPpjoin, qDedupSubstring,
    qDedupContainment, qDedupJaro, qDedupSpans, qDedupSpanClean,
    qContaminationSpans)
}
