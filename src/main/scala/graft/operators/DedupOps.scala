package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints
import graft.functions.TextFunctions._

/** Deduplication operators for the LLM-data-pipeline surface: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard. All are built from per-row
  * expressions + equi-joins on derived keys, so they scale as
  * shuffle-on-short-key jobs — no pairwise O(n²) stage ever materializes
  * more than (bounded bucket size)² candidates.
  *
  * Hashes are md5-derived ("portable hashes", [[graft.functions.TextFunctions.portableHash]])
  * so every computation is reproducible in any engine for oracle checking.
  */
object DedupOps {

  /** Exact dedup: group identical text by content hash, keep the smallest id.
    * One shuffle on a 32-byte key regardless of document size. */
  def exactDedup(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(md5(textCol).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the ingestion-time form: drop incoming docs
    * whose content hash already exists in the seen-set, keeping the first
    * copy of anything new (an incoming batch can carry its own dupes).
    * `seenHashes` needs one column `content_hash`; at 100 TB it lives as a
    * hash-bucketed table so this anti-join is shuffle-free on the corpus
    * side, and the day's batch is the only thing hashed. Returns the
    * surviving rows plus their `content_hash` (append it back to the seen
    * set after the batch commits). */
  def incrementalExactDedup(
      incoming: DataFrame, idCol: Column, textCol: Column,
      seenHashes: DataFrame): DataFrame = {
    val hashed = incoming.withColumn("content_hash", md5(textCol))
    val cols = hashed.columns.toSeq
    // first-copy pick as min_by aggregation, not a per-hash window sort:
    // a batch carrying one document a million times would concentrate the
    // window's sort in one task, while min_by partial-aggregates map-side
    hashed
      .join(seenHashes.select("content_hash"), Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash").as("_h"))
      .agg(min_by(struct(cols.map(col): _*), idCol).as("_r"))
      .select(col("_r.*"))
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  // table-driven nibble lookup: the previous per-byte `f"%02x"` allocated
  // a java.util.Formatter per BYTE — profiled r12 at ~5 CPU-s/repeat in
  // the signature kernel stage at sf0.1 (3.3M formatter calls), vs noise
  // for this loop. Output is identical lowercase hex.
  private def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(2 * i) = hexDigits(b >>> 4)
      out(2 * i + 1) = hexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Typed shingle+signature kernel: tokenize, k-shingle, and minhash in one
    * JVM pass per partition. Semantically identical to the expression form
    * (md5-based portable hashes, so oracle-checkable), but ~10x faster:
    * higher-order array expressions are interpreted (not codegen'd) and pay
    * per-element allocation, while this is a tight Scala loop. This is the
    * "genuine per-partition imperative logic" case where mapPartitions beats
    * expressions. Output: (doc_id, shingles: array, sig: array[numHashes]). */
  private[graft] def shingleSignatures(
      df: DataFrame, idCol: Column, textCol: Column,
      k: Int, numHashes: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Small local files arrive as one split; fan the CPU-heavy kernel out
    // over all cores. At 100TB the scan itself provides the parallelism and
    // this becomes a cheap same-size shuffle (or can be dropped).
    df.select(idCol.cast("long"), textCol).as[(Long, String)]
      .transform(graft.core.Graft.rebalanceForCompute(_))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks = text.split("\\s+").filter(_.nonEmpty)
          val shingles: Array[String] =
            if (toks.length < k) Array.empty
            else toks.sliding(k).map(_.mkString(" ")).toArray.distinct
          // Hash family i = 16-hex window at offset 2*(i%9) of digest block
          // i/9, where block 0 is md5(s) and block b>0 is md5("b|" + s) —
          // one digest per 9 families instead of one per family, and no cap
          // on numHashes. Windows overlap, which is fine for LSH banding.
          // Identical SQL: substr(md5(s), 2*(i%9)+1, 16) for i<=8, and
          // substr(md5(CAST(i//9 AS VARCHAR) || '|' || s), ...) beyond.
          val nBlocks = (numHashes + 8) / 9
          val hexes = shingles.map { sh =>
            Array.tabulate(nBlocks) { b =>
              val input = if (b == 0) sh else s"$b|$sh"
              toHex(md.digest(input.getBytes("UTF-8")))
            }
          }
          val sig: Array[String] = Array.tabulate(numHashes) { i =>
            val block = i / 9
            val off = 2 * (i % 9)
            var min: String = null
            var j = 0
            while (j < hexes.length) {
              val h = hexes(j)(block).substring(off, off + 16)
              if (min == null || h < min) min = h
              j += 1
            }
            min
          }
          (id, shingles, sig)
        }
      }
      .toDF("doc_id", "shingles", "sig")
      .filter(size(col("shingles")) > 0)
  }

  /** MinHash-LSH candidate pairs: signatures banded (`bands` bands of
    * `rowsPerBand`), docs sharing any band bucket become a candidate pair,
    * then pairs are verified with exact shingle Jaccard. `minJaccard` filters
    * the verified output. The band self-join is an equi-join on
    * (band_id, band_key) — the classic LSH shuffle, linear in corpus size. */
  /** MinHash-LSH near-dup pairs: docs are banded, ID-ONLY bucket rows are
    * shuffled on the band key, candidate pairs are generated inside each
    * bucket and deduplicated, then exact shingle-Jaccard verification
    * re-joins each side's shingles by doc_id. The plan is
    * scan -> kernel -> band shuffle (ids only) -> per-bucket pairing ->
    * pair dedup -> 2 short-key joins. Keeping shingle arrays OUT of the
    * bucket aggregation is the scale guard: a hot bucket at the cap holds
    * ~80 KB of ids instead of hundreds of MB of shingles, so no
    * OOM-shaped straggler; each doc's array instead rides through an
    * ordinary, well-partitioned hash join once per pair side.
    * `maxBucket` caps the per-bucket pair blow-up (a bucket of m docs emits
    * m(m-1)/2 pairs) — the standard skew guard for LSH at scale: a band key
    * shared by thousands of near-identical docs would otherwise produce a
    * quadratic straggler. */
  def minhashLsh(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleSize: Int = 5, bands: Int = 4, rowsPerBand: Int = 2,
      minJaccard: Double = 0.5, maxBucket: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val numHashes = bands * rowsPerBand
    // the md5 shingle+signature kernel feeds three plan branches (banding
    // + both verify joins): materialize it once — same pattern as
    // [[ngramJaccardPairs]] — instead of running the kernel per branch
    val withSig = shingleSignatures(df, idCol, textCol, shingleSize, numHashes)
      .localCheckpoint()
    // Band on doc_id ONLY: a bucket row aggregates up to maxBucket longs
    // (~80 KB at the cap), never the shingle arrays — collecting full
    // shingle payloads per bucket would put hundreds of MB in one
    // aggregation row for long docs and OOM the hot-bucket task at scale.
    // Shingles re-join AFTER the (deduplicated) id-pairs are known, so
    // each doc's array crosses the wire once per pair side, not once per
    // band bucket it lands in.
    val banded = withSig.select(
      col("doc_id"),
      explode(array((0 until bands).map { b =>
        concat_ws("|", lit(b).cast("string") +:
          (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
      }: _*)).as("bk"))
    // In-bucket pairing stays in expression land (sort_array + indexed
    // transform + explode): tiny codegen footprint vs a typed flatMap whose
    // nested Seq encoder generates pathological first-run compile times.
    val buckets = banded
      .groupBy("bk")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    val pair = explode(flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        b => struct(a.as("a"), b.as("b"))))))
    val pairs = buckets
      .select(pair.as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .dropDuplicates("a", "b")
    // exact-Jaccard verification: two short-key joins pull each side's
    // shingles back in (doc_id is the join key — the heavy arrays ride as
    // payload through an ordinary hash join, no bucket-row concentration)
    val sh = withSig.select(col("doc_id"), col("shingles"))
    pairs
      .join(sh.select(col("doc_id").as("a"), col("shingles").as("_sa")), "a")
      .join(sh.select(col("doc_id").as("b"), col("shingles").as("_sb")), "b")
      .select(col("a"), col("b"),
        round(
          size(array_intersect(col("_sa"), col("_sb"))).cast("double") /
            size(array_union(col("_sa"), col("_sb"))).cast("double"),
          6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Persistable MinHash signature table for [[incrementalMinhashLsh]]:
    * `(doc_id, sh64: array<bigint>, sig)` for every doc — the state an
    * ingestion pipeline stores (parquet/TxLog, ideally bucketed by
    * doc_id) so that future batches never re-shingle the corpus. Same
    * md5-portable hash family as [[minhashLsh]], so signatures built
    * here verify against the same oracle.
    *
    * `sh64` is the xxhash64 DIGEST of each shingle, not the shingle text
    * (VERDICT r10): shingle strings are O(corpus tokens) — a store
    * carrying them is corpus-sized, which defeats the "small state"
    * claim at 100 TB — while 8-byte digests cost ~1/12th (measured
    * bytes/doc in BENCH_SCALE `sigstore_bytes_r11`). Exact-Jaccard
    * verification is unchanged: shingles are distinct within a doc, so
    * |intersect|/|union| over digests equals the string answer modulo a
    * 64-bit collision across a compared pair (~1e-13 at 1e4 shingles/doc
    * — far below any dedup threshold's noise floor). */
  def minhashSignatures(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleSize: Int = 5, bands: Int = 4, rowsPerBand: Int = 2): DataFrame =
    shingleSignatures(df, idCol, textCol, shingleSize, bands * rowsPerBand)
      .select(col("doc_id"),
        transform(col("shingles"), s => xxhash64(s)).as("sh64"),
        col("sig"))

  /** Ingestion-time MinHash-LSH — the incremental form of [[minhashLsh]],
    * the near-dup twin of [[incrementalExactDedup]]: a new batch arrives,
    * ONLY the batch is tokenized/shingled/hashed, and near-dup pairs are
    * found (a) between the batch and the already-indexed corpus and
    * (b) within the batch itself. `seenSigs` is the stored signature
    * table ([[minhashSignatures]] output for the corpus so far) — append
    * the batch's signatures to it after the batch commits.
    *
    * Output contract: exactly [[minhashLsh]]-over-(seen ∪ new) restricted
    * to pairs touching a new doc — verified `(a, b, jaccard)` with a < b —
    * so a from-scratch run over the full corpus cross-checks every batch.
    *
    * Scale (the reason this exists): a daily batch against a 100 TB
    * corpus re-shingles ONLY the batch. The corpus side contributes one
    * scan of its signature table — genuinely small now: 8-byte shingle
    * digests, not shingle text (see [[minhashSignatures]]). Band keys
    * re-derive from the stored `sig` arrays with zero text processing,
    * and the batch-vs-seen candidate join shuffles ids on the short band
    * key with the batch as the small side (a production deployment can
    * store the banded form bucketed by band key and skip even that
    * exchange). The hot-bucket cap applies to the COMBINED per-band-key
    * count — exactly [[minhashLsh]]'s union-bucket cap, so the
    * from-scratch cross-check holds at every bucket size; digest
    * payloads ride only the final verify joins. */
  def incrementalMinhashLsh(
      newDocs: DataFrame, idCol: Column, textCol: Column,
      seenSigs: DataFrame,
      shingleSize: Int = 5, bands: Int = 4, rowsPerBand: Int = 2,
      minJaccard: Double = 0.5, maxBucket: Int = 10000): DataFrame =
    incrementalMinhashLshFromSigs(
      minhashSignatures(newDocs, idCol, textCol, shingleSize,
        bands, rowsPerBand),
      seenSigs, bands, rowsPerBand, minJaccard, maxBucket)

  /** [[incrementalMinhashLsh]] taking the batch's PRECOMPUTED signature
    * table ([[minhashSignatures]] output) instead of raw documents — for
    * callers that also persist the batch signatures (every real ingest
    * does: the store append and the pair discovery then share ONE kernel
    * pass over the batch instead of tokenizing it twice). */
  def incrementalMinhashLshFromSigs(
      newSigs: DataFrame, seenSigs: DataFrame,
      bands: Int = 4, rowsPerBand: Int = 2,
      minJaccard: Double = 0.5, maxBucket: Int = 10000): DataFrame = {
    // the batch signatures feed banding + both verify joins: pin once
    val ns = newSigs.localCheckpoint()
    def banded(s: DataFrame): DataFrame = s.select(
      col("doc_id"),
      explode(array((0 until bands).map { b =>
        concat_ws("|", lit(b).cast("string") +:
          (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
      }: _*)).as("bk")).distinct()
    val bn = banded(ns).localCheckpoint()
    val bs = banded(seenSigs.select(col("doc_id"), col("sig")))
    // Hot-bucket cap on the COMBINED per-band-key count (ADVICE r10):
    // [[minhashLsh]] caps the UNION bucket, and the advertised contract is
    // exact agreement with a from-scratch run — capping each side
    // independently diverged precisely at hot-bucket scale (a 6k+6k
    // bucket passed both per-side caps but the union run dropped it).
    // Doc ids never repeat across seen/new, so union size = sum of sides
    // — which ONE count over the unioned key stream computes directly
    // (r12: the per-side counts + full-outer reconciliation this
    // replaces paid three shuffles for the same number).
    val okBk = bn.select("bk").unionAll(bs.select("bk"))
      .groupBy("bk").agg(count(lit(1)).as("_c"))
      .filter(col("_c") <= maxBucket)
      .select("bk")
    val bnOk = bn.join(okBk, Seq("bk"), "left_semi")
    val bsOk = bs.join(okBk, Seq("bk"), "left_semi")
    // batch-vs-seen: equi-join on the band key; id order normalizes the
    // pair (the id spaces may interleave — a new doc can sort either side)
    val crossPairs = bnOk.select(col("bk"), col("doc_id").as("x"))
      .join(bsOk.select(col("bk"), col("doc_id").as("y")), Seq("bk"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
    // batch-vs-batch: the in-bucket pairing of [[minhashLsh]], batch only
    // (the union-bucket cap is already enforced through bnOk)
    val buckets = bnOk
      .groupBy("bk").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val pair = explode(flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        b => struct(a.as("a"), b.as("b"))))))
    val innerPairs = buckets.select(pair.as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val pairs = crossPairs.unionAll(innerPairs).dropDuplicates("a", "b")
    // exact-Jaccard verify against the union signature table (either side
    // of a pair may be seen or new); digests stand in for shingles — see
    // [[minhashSignatures]] for the collision argument
    val sh = ns.select(col("doc_id"), col("sh64"))
      .unionByName(seenSigs.select(col("doc_id"), col("sh64")))
    pairs
      .join(sh.select(col("doc_id").as("a"), col("sh64").as("_sa")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh64").as("_sb")), "b")
      .select(col("a"), col("b"),
        round(
          size(array_intersect(col("_sa"), col("_sb"))).cast("double") /
            size(array_union(col("_sa"), col("_sb"))).cast("double"),
          6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** CROSS-corpus near-dup pairs — [[minhashLsh]] restricted to pairs
    * that span two corpora: the "is my training set contaminated by this
    * eval set / crawl dump" question at minhash granularity (the n-gram
    * [[crossContamination]] check is exact-substring; this catches
    * paraphrased/partial overlap). Each corpus builds its own minhash
    * band table; candidates come from an A×B join on band keys (never
    * within-corpus — those pairs are [[minhashLsh]]'s job), per-side
    * bucket caps bound the hot-band blowup, and exact Jaccard verifies
    * survivors. Emits `(a, b, jaccard)` with a from the left corpus.
    *
    * Scale: the band join shuffles on the band key with both sides
    * capped; shingle arrays ride only on the verified-pair joins. */
  def crossDedupPairs(
      dfA: DataFrame, idA: Column, textA: Column,
      dfB: DataFrame, idB: Column, textB: Column,
      shingleSize: Int = 5, bands: Int = 4, rowsPerBand: Int = 2,
      minJaccard: Double = 0.5, maxBucket: Int = 10000): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sa = shingleSignatures(dfA, idA, textA, shingleSize, numHashes)
      .localCheckpoint()
    val sb = shingleSignatures(dfB, idB, textB, shingleSize, numHashes)
      .localCheckpoint()
    def banded(s: DataFrame): DataFrame = s.select(
      col("doc_id"),
      explode(array((0 until bands).map { b =>
        concat_ws("|", lit(b).cast("string") +:
          (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
      }: _*)).as("bk")).distinct()
    val ba = banded(sa)
    val bb = banded(sb)
    def capped(b: DataFrame): DataFrame = b.join(
      b.groupBy("bk").agg(count(lit(1)).as("_c"))
        .filter(col("_c") <= maxBucket).select("bk"), Seq("bk"))
    val pairs = capped(ba).select(col("bk"), col("doc_id").as("a"))
      .join(capped(bb).select(col("bk"), col("doc_id").as("b")), Seq("bk"))
      .select("a", "b").dropDuplicates("a", "b")
    pairs
      .join(sa.select(col("doc_id").as("a"), col("shingles").as("_sa")), "a")
      .join(sb.select(col("doc_id").as("b"), col("shingles").as("_sb")), "b")
      .select(col("a"), col("b"),
        round(
          size(array_intersect(col("_sa"), col("_sb"))).cast("double") /
            size(array_union(col("_sa"), col("_sb"))).cast("double"),
          6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Per-row 64-bit SimHash over whitespace tokens, emitted as a 64-char bit
    * string (portable across engines; avoids signed-long edge cases).
    * bit_j = sign of Σ over tokens of (bit j of md5(token) ? +1 : -1).
    * Pure fold expression — no shuffle, no UDF. */
  def simhash64(textCol: Column): Column = {
    val toks = tokens(textCol)
    // per-token 64 contributions (+1/-1), folded into a 64-long accumulator
    def tokenBits(t: Column): Column = {
      val hex = md5(t) // 32 hex chars; use first 16 => 64 bits
      transform(sequence(lit(0), lit(63)), p => {
        val hexChar = substring(hex, 1, 16).substr(floor(p / 4).cast("int") + 1, lit(1))
        val v = (conv(hexChar, 16, 10)).cast("long")
        val bit = pmod(floor(v / pow(lit(2.0), (lit(3) - pmod(p, lit(4))).cast("double"))).cast("long"), lit(2))
        (bit * 2 - 1).cast("long")
      })
    }
    val acc = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (a, t) => zip_with(a, tokenBits(t), (x, y) => x + y))
    array_join(transform(acc, c => when(c > 0, "1").otherwise("0")), "")
  }

  /** Typed SimHash kernel: same bit derivation as [[simhash64]] (md5 of each
    * token, first 64 bits, sign-summed per position) but computed as a tight
    * JVM loop — the expression form's 64-slot interpreted fold costs ~30x
    * more CPU. Output: (doc_id, simhash: 64-char bit string). */
  def simhash64Typed(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(idCol.cast("long"), textCol).as[(Long, String)]
      .transform(graft.core.Graft.rebalanceForCompute(_))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = text.split("\\s+").filter(_.nonEmpty)
          if (toks.isEmpty) None
          else {
            val acc = new Array[Int](64)
            toks.foreach { t =>
              val d = md.digest(t.getBytes("UTF-8"))
              val b = java.nio.ByteBuffer.wrap(d, 0, 8).getLong
              var p = 0
              while (p < 64) {
                acc(p) += (if (((b >>> (63 - p)) & 1L) == 1L) 1 else -1)
                p += 1
              }
            }
            val sb = new StringBuilder(64)
            acc.foreach(c => sb.append(if (c > 0) '1' else '0'))
            Some((id, sb.toString))
          }
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** SimHash near-dup pairs via bit-banding: the 64-bit signature splits into
    * `bands` contiguous blocks; by pigeonhole, any pair within Hamming
    * distance `maxHamming <= bands - 1` agrees EXACTLY on at least one block,
    * so block-equality buckets give recall 1.0 while reducing the search from
    * all-pairs to an equi-join on (block index, block bits) — the classic
    * scalable Hamming join. Candidates are verified with the native
    * codegen'd [[graft.plans.HammingDistance]] expression.
    *
    * Signatures ride through the band shuffle (64 bytes/row — unlike
    * [[minhashLsh]]'s shingle arrays there is nothing heavy to re-join), so
    * the plan is kernel -> 1 shuffle -> in-bucket pairing -> pair dedup.
    * `maxBucket` is the same skew guard as [[minhashLsh]]'s: a band value
    * shared by m docs emits m(m-1)/2 pairs, so one hot block (short or
    * templated docs collapsing to e.g. an all-zeros block) would otherwise
    * turn the pairing quadratic; buckets above the cap are dropped.
    *
    * Pairing is a typed per-partition loop over band-sorted groups rather
    * than collect_list + nested array transforms: the aggregation row and
    * the interpreted higher-order pair expression cost ~2x the signature
    * kernel itself at sf0.1, while the streaming group loop adds ~nothing.
    * The Hamming verify runs INSIDE the loop (same prefix+length contract
    * as [[graft.plans.HammingDistance]]), so only real near-dup pairs —
    * not every bucket co-occupant — reach the dedup shuffle. */
  def simhashNearDupPairs(
      df: DataFrame, idCol: Column, textCol: Column,
      maxHamming: Int = 3, bands: Int = 4, maxBucket: Int = 10000): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxHamming < bands,
      s"recall 1.0 needs maxHamming < bands (pigeonhole); got $maxHamming >= $bands")
    val width = 64 / bands
    val spark = df.sparkSession
    import spark.implicits._
    val sigs = simhash64Typed(df, idCol, textCol)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until bands).map(b =>
        concat_ws("|", lit(b),
          substring(col("simhash"), b * width + 1, width))): _*)).as("bk"))
    banded
      .repartition(col("bk"))
      .sortWithinPartitions("bk", "doc_id")
      .as[(Long, String, String)]
      .mapPartitions { (it: Iterator[(Long, String, String)]) =>
        val rows = it.buffered
        def hamming(x: String, y: String): Int = {
          val n = math.min(x.length, y.length)
          var d = math.abs(x.length - y.length)
          var i = 0
          while (i < n) { if (x.charAt(i) != y.charAt(i)) d += 1; i += 1 }
          d
        }
        // stream one band group at a time: ids arrive doc_id-sorted, so
        // emitted pairs satisfy a < b by construction; over-cap groups
        // drain without buffering past the cap and emit nothing
        new Iterator[Seq[(Long, Long, Int)]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Seq[(Long, Long, Int)] = {
            val bk = rows.head._3
            val ids = new scala.collection.mutable.ArrayBuffer[(Long, String)]
            var overflow = false
            while (rows.hasNext && rows.head._3 == bk) {
              val r = rows.next()
              if (ids.length < maxBucket) ids += ((r._1, r._2))
              else overflow = true
            }
            if (overflow || ids.length < 2) Nil
            else {
              val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]
              var i = 0
              while (i < ids.length) {
                var j = i + 1
                while (j < ids.length) {
                  val h = hamming(ids(i)._2, ids(j)._2)
                  if (h <= maxHamming) out += ((ids(i)._1, ids(j)._1, h))
                  j += 1
                }
                i += 1
              }
              out.toSeq
            }
          }
        }.flatten
      }
      .toDF("a", "b", "hamming")
      .dropDuplicates("a", "b")
  }

  /** Connected components over the near-dup pair graph: collapses pairwise
    * matches into transitive clusters and labels every member with the
    * cluster's minimum doc id — the step that turns pair detection into an
    * actionable dedup (keep cluster_id == doc_id, drop the rest).
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min label among itself and its neighbors; converges in
    * O(component diameter) rounds. Near-dup components are shallow (docs
    * similar to a common template link within 1-2 hops), so 2-4 rounds close
    * real corpora; pathological chains would call for the alternating
    * large-star/small-star variant, same skeleton. Each round is one
    * shuffle; localCheckpoint truncates lineage so plans stay O(1) per
    * round. Output: (doc_id, cluster_id). */
  def nearDupClusters(
      pairs: DataFrame, aCol: String = "a", bCol: String = "b"): DataFrame = {
    // checkpoint BEFORE the self-union: `edges` is referenced twice below, and
    // without materialization the entire upstream pair pipeline (LSH + verify)
    // would execute once per reference
    val edges = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .localCheckpoint()
    val und = edges
      .union(edges.select(col("y").as("x"), col("x").as("y")))
      .distinct()
      .localCheckpoint()
    // und is eager, so the directed pair checkpoint is already dead
    Checkpoints.release(edges)
    // label₀ = min(node, min neighbor): same single shuffle a plain
    // distinct-node init would cost, but it IS the first propagation round —
    // one fewer join+agg+checkpoint cycle every invocation (propagation
    // converges to the component min from any monotone init ≥ it)
    //
    // Convergence check rides on monotonicity: a node's label can only
    // decrease (the groupBy-min includes its old label), so some label
    // changed iff sum(label) strictly dropped. The sum is observed on each
    // round's own pin job: a job of its own would cost ~40 ms of driver
    // latency per round, which dominates this loop at small SF.
    val labelSum = sum(col("label").cast("decimal(38,0)")).as("s")
    val (labels0, seen0) = Checkpoints.pin(
      und.groupBy(col("x"))
        .agg(least(min(col("y")), col("x")).as("label"))
        .select(col("x").as("node"), col("label")), labelSum)
    val labels = Checkpoints.iterate(labels0, seen0, Int.MaxValue, labelSum)(
        (prev, next) => prev("s") == next("s")) { (labels, _) =>
      val prop = und.alias("e")
        .join(labels.alias("l"), col("e.y") === col("l.node"))
        .select(col("e.x").as("node"), col("l.label").as("label"))
      labels.union(prop).groupBy("node").agg(min("label").as("label"))
    }
    // only the final label checkpoint (the result) stays pinned
    Checkpoints.release(und)
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Incremental cluster maintenance — the last stage of the ingestion-
    * time dedup story ([[incrementalExactDedup]] →
    * [[incrementalMinhashLsh]] → this): fold a batch's new near-dup
    * pairs into an EXISTING (doc_id, cluster_id) labeling without
    * re-clustering the corpus. The existing labeling is re-expressed as
    * star edges (member ↔ its cluster id — by the output contract of
    * [[nearDupClusters]] the cluster id IS a member, so stars faithfully
    * regenerate the old components in one hop), unioned with the new
    * pairs, and min-label propagation runs on the UNION graph. Output
    * contract: identical to [[nearDupClusters]] over (all old pairs ∪
    * new pairs) — a from-scratch run cross-checks every batch, and
    * batches that merge two old clusters (a new doc bridging them)
    * relabel both to the global min, exactly as from-scratch would.
    *
    * Scale: the star edge set is one row per ALREADY-CLUSTERED doc
    * (clusters table scan, no text, no pair regeneration), and the
    * propagation converges in O(new-bridge diameter) rounds — for
    * ingest batches that's 2-3 rounds over a graph dominated by
    * depth-1 stars, not a corpus-wide recomputation. */
  def incrementalClusters(
      existing: DataFrame, newPairs: DataFrame,
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    val stars = existing
      .select(col("doc_id").cast("long").as("a"),
        col("cluster_id").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    nearDupClusters(
      stars.unionByName(
        newPairs.select(col(aCol).cast("long").as("a"),
          col(bCol).cast("long").as("b"))),
      "a", "b")
  }

  /** Train/test contamination check — the decontamination staple: for every
    * document in `testSplit`, the fraction of its distinct k-gram shingles
    * that also occur anywhere in `trainSplit`. A high fraction means the
    * eval document leaks into training data (or vice versa) and must be
    * quarantined. Dataflow: one explode, a distinct on the train shingle
    * set (shuffle on the shingle), a shingle-keyed join of the test
    * postings, and a per-doc aggregation — every shuffle is on a short
    * key, nothing is all-pairs, so the check runs at corpus scale.
    * Output: (doc_id, n_shingles, n_hits, contamination = hits/shingles). */
  def contaminationCheck(
      docs: DataFrame, idCol: Column, textCol: Column, splitCol: Column,
      shingleSize: Int = 8,
      trainSplit: String = "train", testSplit: String = "test"): DataFrame = {
    val toks = tokens(textCol)
    val sh = docs
      .select(idCol.as("doc_id"), splitCol.as("split"), toks.as("t"))
      .filter(size(col("t")) >= shingleSize)
      .select(col("doc_id"), col("split"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("t")) - (shingleSize - 1)),
          i => concat_ws(" ", slice(col("t"), i, lit(shingleSize)))))).as("g"))
    val train = sh.filter(col("split") === trainSplit)
      .select("g").distinct().withColumn("hit", lit(1))
    sh.filter(col("split") === testSplit)
      .join(train, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_shingles"))
          .as("contamination"))
  }

  /** Connected components via alternating large-star/small-star — the
    * O(log n)-round variant for graphs whose components have LONG CHAINS,
    * where [[nearDupClusters]]'s per-hop min-label propagation would need
    * O(diameter) shuffles. Same output contract: (doc_id, cluster_id = the
    * component's min id).
    *
    * Each round: large-star hangs every neighbor larger than a node onto
    * the node's minimum neighbor (halving chain heights), small-star then
    * re-hangs the small side the same way; edges always point big→small and
    * the edge set is a fixpoint exactly when every component is a star
    * rooted at its minimum. Convergence is checked with a cheap (count,
    * sum-of-endpoints) signature on the already-checkpointed edge set —
    * stable under the set semantics, no join-per-round. Hub nodes collect
    * their neighbor set in one task per round; that is the algorithm's
    * documented behavior (large-star is precisely the step that splits
    * hubs). */
  def nearDupClustersStar(
      pairs: DataFrame, aCol: String = "a", bCol: String = "b"): DataFrame = {
    val big = greatest(col("u"), col("v"))
    val small = least(col("u"), col("v"))
    // fixpoint detection = (count, keyed sum) signature of the edge set,
    // observed on each round's own pin job
    val sig = Seq(count(lit(1)).as("c"),
      sum((col("u") * 1000003L + col("v")).cast("decimal(38,0)")).as("s"))
    val (edges0, sig0) = Checkpoints.pin(pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(big.as("u"), small.as("v"))
      .distinct(), sig: _*)
    // the original vertex set: star-contraction drops isolated-after-merge
    // nodes from the edge list, but every input node still needs a label
    val nodes = edges0.select(col("u").as("doc_id"))
      .union(edges0.select(col("v").as("doc_id")))
      .distinct()
      .localCheckpoint()
    def star(e: DataFrame, largeSide: Boolean): DataFrame = {
      // large-star groups over the SYMMETRIZED adjacency; small-star only
      // over the big->small orientation
      val adj = if (largeSide)
        e.union(e.select(col("v").as("u"), col("u").as("v"))) else e
      val grouped = adj.groupBy("u").agg(collect_set(col("v")).as("ns"))
        .select(col("u"),
          array_min(array_union(col("ns"), array(col("u")))).as("m"), col("ns"))
      val hang = if (largeSide)
        filter(col("ns"), v => v > col("u")) // strictly-larger neighbors
      else array_union(col("ns"), array(col("u"))) // small nbrs + self
      grouped
        .select(explode(hang).as("x"), col("m"))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v"))
        .distinct()
    }
    val edges = Checkpoints.iterate(edges0, sig0, Int.MaxValue, sig: _*)(
        (prev, next) => prev == next) { (edges, _) =>
      star(star(edges, largeSide = true), largeSide = false)
    }
    // fixpoint = components are stars rooted at their min: non-roots appear
    // as u with v = root; roots label themselves. Fold into one result
    // checkpoint so the node table and final edge set can be freed too.
    val result = nodes
      .join(edges.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("v"), col("doc_id")).as("cluster_id"))
      .localCheckpoint()
    Checkpoints.releaseAll(nodes, edges)
    result
  }

  /** n-gram Jaccard near-dup pairs WITHOUT minhash: candidates = pairs sharing
    * at least one shingle, with super-common shingles dropped (bucket cap) to
    * bound the self-join blow-up — the standard scalable trick; exact Jaccard
    * verifies. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleSize: Int = 5, maxBucket: Int = 50, minJaccard: Double = 0.3): DataFrame = {
    // see minhashLsh: materialize shingles once, every leg below reuses them
    val docs = shingleSignatures(df, idCol, textCol, shingleSize, numHashes = 0)
      .select("doc_id", "shingles")
      .localCheckpoint()
    val posting = docs
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val rare = posting.groupBy("sh").agg(count(lit(1)).as("df_"))
      .filter(col("df_") <= maxBucket).select("sh")
    val pruned = posting.join(rare, Seq("sh"))
    val pairs = pruned.select(col("sh"), col("doc_id").as("a"))
      .join(pruned.select(col("sh"), col("doc_id").as("b")), Seq("sh"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    pairs
      .join(docs.select(col("doc_id").as("a"), col("shingles").as("sa")), Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("shingles").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Shingle-containment near-dup pairs — the asymmetric complement to
    * [[ngramJaccardPairs]]: `C(A→B) = |A∩B| / |A|` finds documents
    * SUBSUMED by another (a quoted article inside a longer page, a
    * truncated crawl of a full doc), which Jaccard misses whenever the
    * container is much larger than the contained (J ≈ |A|/|B| → 0 while
    * C → 1). The training-data dedup literature keeps containment
    * specifically for this superset/subset case.
    *
    * Same scalable candidate discipline as the Jaccard op: shingles
    * materialized once, inverted index with a document-frequency cap on
    * the self-join (boilerplate shingles can't explode a bucket), exact
    * set arithmetic only on surviving candidate pairs. Emits one row per
    * unordered pair with BOTH directions (`c_ab` = share of a's shingles
    * inside b, `c_ba` symmetric) and keeps pairs where either direction
    * reaches `minContainment`. */
  def containmentPairs(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleSize: Int = 5, maxBucket: Int = 50,
      minContainment: Double = 0.5): DataFrame = {
    val docs = shingleSignatures(df, idCol, textCol, shingleSize, numHashes = 0)
      .select("doc_id", "shingles")
      .localCheckpoint()
    val posting = docs
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val rare = posting.groupBy("sh").agg(count(lit(1)).as("df_"))
      .filter(col("df_") <= maxBucket).select("sh")
    val pruned = posting.join(rare, Seq("sh"))
    val pairs = pruned.select(col("sh"), col("doc_id").as("a"))
      .join(pruned.select(col("sh"), col("doc_id").as("b")), Seq("sh"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    pairs
      .join(docs.select(col("doc_id").as("a"), col("shingles").as("sa")), Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("shingles").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        size(col("sa")).cast("long").as("na"),
        size(col("sb")).cast("long").as("nb"))
      .withColumn("c_ab",
        round(col("inter").cast("double") / col("na"), 6))
      .withColumn("c_ba",
        round(col("inter").cast("double") / col("nb"), 6))
      .filter(col("c_ab") >= minContainment || col("c_ba") >= minContainment)
  }

  /** Edit-distance-1 similarity self-join via deletion neighborhoods
    * (the FastSS trick): every string generates its |s|+1 single-
    * deletion variants (itself included); two strings within Levenshtein
    * distance 1 are GUARANTEED to share a variant (a substitution at
    * position i shares the delete-at-i variant; an insert/delete pair
    * shares the shorter string itself). Equi-join on the variant yields
    * a complete candidate set, and the built-in `levenshtein` verifies —
    * so the result is EXACT, from an equi-join instead of the quadratic
    * all-pairs scan an edit-distance predicate would otherwise force
    * (contrast [[fuzzyPairs]], whose Jaro-Winkler blocking is heuristic
    * recall).
    *
    * Variant-bucket skew is bounded: a bucket key is a string of length
    * ≥ len−1, so only near-identical strings collide; `maxBucket` caps
    * pathological crowds (a million copies of "ok") exactly like the
    * shingle caps. Distinct input strings are joined; pair output is
    * `(a, b, dist)` with a < b. Scale: variants = O(len) rows per
    * distinct string, one shuffle on the variant key, verify inline. */
  def editDistancePairs(df: DataFrame, strCol: Column,
      maxBucket: Int = 1000): DataFrame = {
    // no standalone distinct on the strings: the (s, h) distinct below
    // dedups input repeats at the same time as repeated variants — one
    // shuffle instead of two
    val strs = df.select(strCol.cast("string").as("s"))
      .filter(col("s").isNotNull)
    // s itself + delete-at-i for each i (1-based): prefix ++ suffix.
    // The variant string is near-document-length, and it only ever
    // serves as an EQUALITY key — so it is immediately collapsed to a
    // fixed-width 64-bit digest (`xxhash64`) and never shuffled again:
    // every downstream exchange keys on 8 bytes instead of the raw
    // variant (several-fold fewer shuffle bytes on long strings). A
    // digest collision can only ADD a false candidate pair, which the
    // exact `levenshtein` verify below removes — candidate completeness
    // (two strings within distance 1 share a variant, hence a digest)
    // is untouched, so the result stays EXACT modulo one caveat: bucket
    // counts are per DIGEST, so two distinct variants colliding merges
    // their counts, and a merged count crossing `maxBucket` would drop a
    // small bucket's genuine pairs. That needs a 64-bit collision to land
    // on a near-cap bucket (P ≈ n²/2⁶⁴ per bucket — astronomically
    // unlikely at any real corpus size) and is the same failure class as
    // the cap itself, which is already approximate by contract.
    val variants = strs.select(col("s"),
        explode(concat(array(col("s")),
          transform(sequence(lit(1), length(col("s"))),
            i => concat(col("s").substr(lit(1), i - 1),
              col("s").substr(i + 1, length(col("s"))))))).as("_v"))
      .select(col("s"), xxhash64(col("_v")).as("h"))
      .distinct() // s can repeat a variant (delete either of "oo")
    // the variant table feeds the bucket counts AND both sides of the
    // candidate self-join; without pinning it, the explode+distinct
    // lineage re-executes per consumer (measured 12.2 s → 4.4 s at
    // sf0.1 from this one checkpoint — exchange reuse does not cover
    // the differently-filtered branches)
    // `_bn >= 2`: a singleton bucket can only produce the (a,a) pair the
    // a<b filter drops — pruning them BEFORE the join shrinks the pinned
    // candidate table to just the multi-member variants (the overwhelming
    // majority of variants are singletons)
    val kept = variants.join(
      variants.groupBy("h").agg(count(lit(1)).as("_bn"))
        .filter(col("_bn") >= 2 && col("_bn") <= maxBucket).select("h"),
      Seq("h"))
      .localCheckpoint()
    kept.select(col("h"), col("s").as("a"))
      .join(kept.select(col("h"), col("s").as("b")), Seq("h"))
      .filter(col("a") < col("b"))
      // bounded edit distance (r17): the threshold form early-exits the
      // DP at band width 1 — O(len) per candidate instead of O(len²), and
      // the candidate set here is ~65x the surviving pairs. Returns -1
      // above the bound, so the filter keeps exactly the old dist <= 1
      // rows (dist = 0 is impossible: a < b are distinct strings).
      // Interleaved A/B on the gate: 3.07 -> 2.41 s solo min.
      .withColumn("dist", levenshtein(col("a"), col("b"), 1).cast("long"))
      .filter(col("dist") >= 0)
      // dedup AFTER the verify: a surviving pair repeats only when it
      // shares several variants (~2% here), so the distinct exchange
      // moves 4x fewer rows than deduping the raw candidate set — at the
      // price of re-verifying those few repeats, a per-row codegen'd op
      .select("a", "b", "dist").distinct()
  }

  /** Canonical-document selection — the step that actually SHRINKS the
    * corpus after clustering: every document gets its cluster id (its own
    * id when unclustered) and each cluster keeps exactly one
    * representative — highest quality, hash-tiebroken, so the survivor set
    * is deterministic on any engine. `clusters` is the (doc_id, cluster_id)
    * output of [[nearDupClusters]]/[[nearDupClustersStar]]. One shuffle on
    * cluster id; the per-cluster pick is a bounded window run. */
  def canonicalPick(docs: DataFrame, idCol: Column, qualityCol: Column,
      clusters: DataFrame): DataFrame = {
    // argmax as ONE hash aggregation rather than a per-cluster window
    // sort: the window form concentrates a mega-cluster (10M boilerplate
    // near-dups collapsing to one label) into a single task's sort, while
    // min_by partial-aggregates map-side — no straggler at any cluster
    // size. Pick contract: highest _q, then hashOrder (md5 asc, id asc) —
    // rendered as ONE minimizing struct by negating only the numeric
    // quality; md5 and doc_id stay untransformed, so a string/date/any
    // orderable idCol keeps its natural ascending order (negating the id
    // would cast strings to double→NULL and overflow Long.MinValue).
    docs.select(idCol.as("doc_id"), qualityCol.as("_q"))
      .join(clusters.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy("cluster_id")
      .agg(
        // leading isNull flag: nulls sort FIRST in struct ordering, which
        // under min_by would make a null-quality doc WIN — the flag makes
        // it lose (false < true), preserving max_by's nulls-lose semantics
        min_by(col("doc_id"),
          struct(col("_q").isNull, negate(col("_q")),
            md5(col("doc_id").cast("string")), col("doc_id"))).as("doc_id"),
        count(lit(1)).as("cluster_size"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Blocked fuzzy-match candidate pairs: distinct values of `name`,
    * self-joined only within a `block` (a cheap deterministic key — last
    * token, phonetic code, length band) and only where the byte-length gap
    * can possibly pass `maxDist` (|len(a)-len(b)| ≤ d is a necessary
    * condition for edit distance ≤ d). Emits `(n1, n2, d)` with
    * `n1 < n2` and Levenshtein `d ≤ maxDist`.
    *
    * This is the record-linkage shape that survives scale: the quadratic
    * blow-up is confined to one block, the join shuffles on the block key
    * (skewed mega-blocks are a blocking-key-design problem, same contract
    * as [[minhashLsh]]'s `maxBucket`), and the length prefilter prunes
    * candidates before the O(len²) scorer runs. An unblocked fuzzy join is
    * a cartesian product — never that. */
  def fuzzyPairs(df: DataFrame, name: Column, block: Column,
      maxDist: Int): DataFrame =
    blockedCandidatePairs(df, name, block,
        extraCond = abs(length(col("n1")) - length(col("n2"))) <= maxDist)
      .withColumn("d", levenshtein(col("n1"), col("n2")))
      .filter(col("d") <= maxDist)
      .select(col("n1"), col("n2"), col("d"))

  /** The blocked candidate-pair builder [[fuzzyPairs]] (and the
    * Jaro-Winkler gate) scores over: distinct `name` values self-joined
    * only within a `block`, canonicalized `n1 < n2`, with an optional
    * extra pre-scorer prune (e.g. the Levenshtein length-gap necessary
    * condition). NULL blocks never pair (equality join semantics) —
    * unblockable records need their own key design, not a silent
    * cartesian corner. */
  def blockedCandidatePairs(df: DataFrame, name: Column, block: Column,
      extraCond: Column = lit(true)): DataFrame = {
    val names = df.select(name.as("n"), block.as("blk")).distinct()
    val a = names.select(col("n").as("n1"), col("blk"))
    val b = names.select(col("n").as("n2"), col("blk").as("blk2"))
    a.join(b, col("blk") === col("blk2") && col("n1") < col("n2") && extraCond)
      .select(col("n1"), col("n2"))
  }

  /** Substring-granularity duplicate-span profile — dedup below the
    * document level: every `k`-token sliding window of every document is
    * hashed, a span counts as duplicated when the identical k-gram occurs
    * in at least `minDocs` DISTINCT documents, and each document reports
    * how much of it is made of duplicated spans (the boilerplate /
    * template-text measure the whole-document dedup family above cannot
    * see). Returns `(doc_id, n_spans, dup_spans, max_span_docs,
    * dup_ratio_e6)`, one row per document long enough to hold a window.
    *
    * Shape at 100 TB: a window never leaves the scan as text — each one
    * collapses to a 32-byte md5 inside a single codegen'd
    * transform-over-token-array expression, so the exploded frame is
    * (doc_id, hash) only, ~40 bytes/token regardless of document size.
    * From there it is two shuffles on the hash (distinct-doc counting with
    * map-side partial aggregation, then an equi-join back) and one shuffle
    * on doc_id for the per-document rollup. The span frame feeds both the
    * counting leg and the join leg, so it is checkpointed once (same
    * contract as [[minhashLsh]]'s shingle reuse). */
  def repeatedSpans(docs: DataFrame, idCol: Column, textCol: Column,
      k: Int, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"span length must be >= 2 tokens, got $k")
    val toks = split(textCol, " ")
    val base = docs
      .filter(size(toks) >= k)
      .select(idCol.as("doc_id"), (size(toks) - lit(k - 1)).cast("long").as("n_spans"),
        toks.as("t"))
    val spans = base
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("t")) - lit(k)),
        i => md5(concat_ws(" ", slice(col("t"), i + lit(1), lit(k)))))).as("h"))
      .localCheckpoint()
    val rep = spans.distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    val perDoc = spans.join(rep, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_spans"), max(col("n_docs")).as("max_span_docs"))
    base.select("doc_id", "n_spans")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("max_span_docs"), lit(0L)).as("max_span_docs"),
        floor(coalesce(col("dup_spans"), lit(0L)) * lit(1e6) /
          col("n_spans") + lit(0.5)).as("dup_ratio_e6"))
  }

  /** Span EXCISION — the transform half of [[repeatedSpans]]: rewrite
    * each document with every cross-document duplicated span REMOVED
    * (public precedent: exact-substring training-data dedup, Lee et al.
    * 2022 — arXiv:2107.06499 — which cuts duplicated spans out of the
    * corpus rather than dropping whole documents). A token is excised
    * when ANY `k`-token window covering it has an md5 identical to a
    * window in ≥ `minDocs` DISTINCT documents; all occurrences go (the
    * conservative boilerplate-removal semantics — keeping one global
    * copy would need an arbitrary occurrence order; callers who want
    * that compose this with a keep-first dedup upstream). Documents
    * shorter than `k` tokens pass through byte-identical. Returns
    * `(doc_id, clean_text, n_tokens, kept_tokens)`.
    *
    * Shape at 100 TB: same two hash shuffles as [[repeatedSpans]]
    * (distinct-doc counting, then the equi-join back), with positions
    * riding the span frame; the rebuild is pure per-row array
    * expressions — the coverage test is `exists` over the doc's own
    * duplicated-position list, O(tokens × dup-positions) per document
    * worst case, bounded by the document's own length, never a shuffle.
    * The span frame feeds both legs, so it is checkpointed once. */
  def removeRepeatedSpans(docs: DataFrame, idCol: Column, textCol: Column,
      k: Int, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"span length must be >= 2 tokens, got $k")
    val base = docs.select(idCol.as("doc_id"), split(textCol, " ").as("t"))
      .withColumn("n", size(col("t")))
    val spans = base.filter(col("n") >= k)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), col("n") - lit(k - 1)),
        i => struct(i.as("i"),
          md5(concat_ws(" ", slice(col("t"), i, lit(k)))).as("h")))).as("s"))
      .select(col("doc_id"), col("s.i").as("i"), col("s.h").as("h"))
      .localCheckpoint()
    val rep = spans.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    val dupPos = spans.join(rep.select("h"), Seq("h"))
      .groupBy("doc_id").agg(sort_array(collect_list(col("i"))).as("ps"))
    val keptIdx = when(col("ps").isNull, sequence(lit(1), col("n")))
      .otherwise(filter(sequence(lit(1), col("n")),
        j => !exists(col("ps"), p => p >= j - lit(k - 1) && p <= j)))
    base.join(dupPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ",
          transform(keptIdx, j => element_at(col("t"), j))).as("clean_text"),
        col("n").cast("long").as("n_tokens"),
        size(keptIdx).cast("long").as("kept_tokens"))
  }

  /** Content-defined chunking — split each document at ROLLING-HASH cut
    * points instead of fixed offsets (the Rabin/FastCDC idea behind
    * storage dedup, applied at token granularity): a chunk boundary
    * falls after token i whenever the portable hash of the `window`-token
    * context ending at i lands in bucket 0 of `modulus` (expected chunk
    * length ≈ `modulus` tokens), plus a forced boundary at end-of-doc.
    * Because the cut decision depends only on LOCAL content, inserting or
    * deleting a prefix shifts which chunks exist but leaves every chunk
    * AFTER the edit byte-identical — the property that lets chunk-level
    * dedup catch shared sub-document content that whole-doc hashing and
    * fixed-offset chunking both miss.
    *
    * Entirely per-row array expressions (split → boundary filter →
    * zip_with spans → posexplode): no shuffle, no UDF, codegen-friendly;
    * the md5-derived boundary hash keeps it engine-reproducible. Returns
    * (doc_id, chunk_id, chunk, n_tokens); empty/whitespace docs yield no
    * rows. Chunk-level dedup is then one groupBy on the chunk text (or
    * its digest at scale). */
  def contentDefinedChunks(df: DataFrame, idCol: Column, textCol: Column,
      window: Int, modulus: Long): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(modulus >= 1, s"modulus must be >= 1: $modulus")
    val base = df
      .select(idCol.as("doc_id"),
        filter(split(textCol, "\\s+"), t => t =!= "").as("toks"))
      .filter(size(col("toks")) > 0)
    val n = size(col("toks"))
    val bnds = filter(sequence(lit(1), n), i => {
      val start = greatest(lit(1), i - (window - 1))
      val win = concat_ws(" ", slice(col("toks"), start, i - start + 1))
      (portableBucket(win, modulus) === 0) || (i === n)
    })
    val withB = base.withColumn("bnds", bnds)
    val prev = concat(array(lit(0)),
      slice(col("bnds"), lit(1), size(col("bnds")) - 1))
    val spans = zip_with(prev, col("bnds"), (s, e) => struct(
      concat_ws(" ", slice(col("toks"), s + 1, e - s)).as("chunk"),
      (e - s).as("n_tokens")))
    withB
      .select(col("doc_id"), posexplode(spans).as(Seq("idx", "c")))
      .select(col("doc_id"), (col("idx") + 1).cast("long").as("chunk_id"),
        col("c.chunk").as("chunk"),
        col("c.n_tokens").cast("long").as("n_tokens"))
  }
}
