package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-level BPE (byte-pair-encoding) tokenizer ENCODE — the step
  * between a curated text corpus and an actual training shard: training
  * corpora are tokenized with a learned merge table (GPT-2-style byte
  * BPE), not the frequency-vocabulary word ids of
  * [[graft.operators.Packing]]'s upstream. This implements the standard
  * greedy encode loop over a PROVIDED merge-rank table:
  *
  *   1. pre-tokenize: split text into chunks (` ?[letters]+` | ` +` —
  *      the GPT-2 shape: a word carries its leading space; merges never
  *      cross chunk boundaries, which also bounds the quadratic merge
  *      loop to word length);
  *   2. seed each chunk with its UTF-8 BYTES as single-byte tokens
  *      (rendered as ISO-8859-1 chars so token-string concatenation
  *      reproduces the bytes exactly — the GPT-2 byte-alphabet trick);
  *   3. repeat: find the LOWEST-RANK adjacent pair present anywhere in
  *      the chunk, replace ALL its non-overlapping occurrences left to
  *      right, until no listed pair remains.
  *
  * Token ids: a single-byte token's id is its byte value (0-255); the
  * token made by merge rank r has id 256 + r — the standard contiguous
  * vocab layout.
  *
  * Decode is concatenation (BPE merges preserve adjacency), so
  * `decode(encode(x)) == x` for ALL inputs — the property BpeSpec
  * asserts, including non-ASCII (multi-byte UTF-8 splits into byte
  * tokens and reassembles bit-exact).
  *
  * Scale shape: the merge table is the ONLY shared state — broadcast
  * once per executor (a production 50k-merge table is ~MBs; shipping it
  * per-task in the closure would multiply that by tasks). The encode
  * itself is a narrow map — text never shuffles, each chunk's merge
  * loop is O(len²) on words of bounded length. No exchange anywhere
  * (BpeSpec pins the plan). */
object Bpe {

  /** The bounded demo merge table (ranks = index): common English
    * digraphs with two CASCADES (th→the, an→and) so multi-level merges
    * are exercised corpus-wide. q150's DuckDB oracle replays this exact
    * list. */
  val demoMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("o", "n"), ("e", "r"), ("r", "e"), ("o", "r"), ("s", "t"))

  /** Pre-tokenize: partition `s` into chunks, each either (optional
    * leading space + maximal letter run), (optional leading space +
    * maximal DIGIT run — the GPT-2 ` ?\p{N}+` shape: "2026" merges as
    * a unit instead of four singletons), or a maximal space run that
    * is NOT followed by a letter/digit — i.e. the regex
    * ` ?[A-Za-z]+| ?[0-9]+| +|[^ ]` applied left to right (any other
    * byte becomes its own chunk so the partition is total and decode
    * round-trips).
    *
    * Documented divergences from the exact GPT-2 regex (` ?\p{L}+|
    * ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+` plus contraction
    * special-cases): (a) letters/digits are ASCII classes, so accented
    * letters chunk as singletons — merges never form across them,
    * which costs compression, never correctness (decode still
    * round-trips byte-exact); (b) punctuation runs are singletons,
    * not ` ?[^\s\p{L}\p{N}]+` groups — same compression-only effect;
    * (c) no `'s|'t|'re|…` contraction cases; (d) a space run keeps ALL
    * its spaces (GPT-2's `\s+(?!\S)` donates the last one to the next
    * word). Every divergence only changes WHERE merges may form, never
    * the byte stream, so `decode∘encode == id` holds regardless. */
  private[graft] def preTokenize(s: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    def isLetter(c: Char) =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    def isDigit(c: Char) = c >= '0' && c <= '9'
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' && i + 1 < n && isLetter(s.charAt(i + 1))) {
        var j = i + 1
        while (j < n && isLetter(s.charAt(j))) j += 1
        out += s.substring(i, j); i = j
      } else if (c == ' ' && i + 1 < n && isDigit(s.charAt(i + 1))) {
        var j = i + 1
        while (j < n && isDigit(s.charAt(j))) j += 1
        out += s.substring(i, j); i = j
      } else if (isLetter(c)) {
        var j = i
        while (j < n && isLetter(s.charAt(j))) j += 1
        out += s.substring(i, j); i = j
      } else if (isDigit(c)) {
        var j = i
        while (j < n && isDigit(s.charAt(j))) j += 1
        out += s.substring(i, j); i = j
      } else if (c == ' ') {
        var j = i
        while (j < n && s.charAt(j) == ' ') j += 1
        out += s.substring(i, j); i = j
      } else if (Character.isHighSurrogate(c) && i + 1 < n &&
        Character.isLowSurrogate(s.charAt(i + 1))) {
        // keep astral code points (emoji etc.) whole: a lone surrogate
        // is not encodable text — splitting the pair would corrupt the
        // byte stream to '?' and break decode∘encode == id
        out += s.substring(i, i + 2); i += 2
      } else {
        out += s.substring(i, i + 1); i += 1
      }
    }
    out.toList
  }

  /** Encode ONE pre-tokenized chunk: byte-seed, then greedy
    * lowest-rank-first merge passes (each pass replaces every
    * non-overlapping occurrence left to right — the GPT-2 semantics). */
  private[graft] def encodeChunk(chunk: String,
                                 ranks: Map[(String, String), Int])
      : List[String] = {
    val bytes = chunk.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var toks: Array[String] = bytes.map(b =>
      String.valueOf((b & 0xff).toChar))
    while (toks.length > 1) {
      // lowest-rank pair present
      var best = Int.MaxValue
      var k = 0
      while (k < toks.length - 1) {
        ranks.get((toks(k), toks(k + 1))) match {
          case Some(r) if r < best => best = r
          case _ => ()
        }
        k += 1
      }
      if (best == Int.MaxValue) return toks.toList
      // merge ALL non-overlapping occurrences of the best pair, L->R
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length &&
          ranks.get((toks(i), toks(i + 1))).contains(best)) {
          out += toks(i) + toks(i + 1); i += 2
        } else { out += toks(i); i += 1 }
      }
      toks = out.toArray
    }
    toks.toList
  }

  /** The merge loop is O(chunk²): a pathological unbroken letter run
    * (a 100 KB base64 blob that survived text extraction, a DNA
    * sequence) would cost ~10^10 comparisons in ONE task. Chunks longer
    * than this are split into cap-sized pieces before encoding — merges
    * cannot cross the split (same contract as the word boundary), and
    * the cap bounds per-row CPU at cap² regardless of input. Real
    * tokenizers face the same input and make the same trade (HF
    * tokenizers' max_input_chars_per_word). Decode still round-trips:
    * splitting only refuses merges, never drops bytes. */
  val MaxChunkChars = 1024

  /** Cap-split that never lands between a surrogate pair. (Today only
    * ASCII letter/space runs can exceed the cap — "other" chunks are
    * single code points — but that is an invariant of preTokenize, not
    * of this function's input, so guard it here.) */
  private def splitChunk(s: String, cap: Int): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      var j = math.min(i + cap, s.length)
      if (j < s.length && Character.isHighSurrogate(s.charAt(j - 1)) &&
        Character.isLowSurrogate(s.charAt(j))) j -= 1
      out += s.substring(i, j); i = j
    }
    out.toList
  }

  private[graft] def encode(text: String,
                            ranks: Map[(String, String), Int])
      : List[String] =
    if (text == null) Nil
    else preTokenize(text).flatMap { chunk =>
      if (chunk.length <= MaxChunkChars) encodeChunk(chunk, ranks)
      else splitChunk(chunk, MaxChunkChars).flatMap(encodeChunk(_, ranks))
    }

  /** Inverse: token strings are byte strings; concatenation IS the
    * original byte sequence. */
  private[graft] def decode(tokens: Seq[String]): String = {
    val bytes = tokens.mkString.toCharArray.map(c => c.toByte)
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** One non-overlapping left-to-right merge pass for a SPECIFIC pair
    * — the training-side application step (the encoder's pass selects
    * by rank; the trainer applies exactly the pair it just learned). */
  private[graft] def applyPair(toks: Array[String], l: String,
                               r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
        out += l + r; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toArray
  }

  /** LEARN a merge table from a corpus — BPE training, the step that
    * makes [[bpeEncode]]'s input table derivable from YOUR data rather
    * than shipped from elsewhere. Classic algorithm (Sennrich et al.,
    * public), in its scale-true form: train on the WORD-TYPE HISTOGRAM,
    * not the corpus — a 100 TB corpus has a vocab-sized distinct-word
    * table, so after the first groupBy every round's state is
    * vocab-bounded regardless of corpus size. Each round: count
    * adjacent token pairs weighted by word frequency (one groupBy on
    * (l, r) — the only exchange, carrying token pairs), pick the most
    * frequent pair (ties break lexicographically for cross-engine
    * determinism), apply it non-overlapping left-to-right to every
    * word, repeat. Word types seed with their UTF-8 BYTES rendered as
    * ISO-8859-1 chars — the SAME byte alphabet [[encodeChunk]] seeds
    * with, so learned merges apply at encode time on non-ASCII corpora
    * too (code-point seeding would learn tokens the encoder never
    * forms). A candidate pair whose concatenation equals an
    * already-learned token string is SKIPPED (('a','bc') after
    * ('ab','c') both spell "abc"): [[bpeEncode]]'s contiguous
    * 256+rank id scheme requires token strings to be unique, and
    * skipping costs at most one lower-frequency rule.
    *
    * Two execution paths, bit-identical by construction (same
    * tie-break, same collision guard; BpeSpec asserts equality):
    * after the first groupBy the histogram is vocab-bounded, so when
    * it has ≤ `maxDriverTypes` word types it is collected ONCE and the
    * merge loop runs driver-side (the centroid-collect category — each
    * distributed round costs two vocab-sized Spark jobs, pure
    * orchestration overhead at any realistic k; see SCALING.md's
    * k-curve). Corpora whose type histogram exceeds the cap keep the
    * fully distributed loop. Token strings here only contain chars
    * 0-255, where Java String ordering == Spark's UTF8String binary
    * ordering, so the two paths tie-break identically.
    *
    * Returns (rank, left_tok, right_tok, pair_count) — feed straight
    * into `bpeEncode(df, col, merges)`. Stops early if the corpus runs
    * out of repeated pairs. */
  def learnMerges(df: DataFrame, textCol: String, k: Int,
                  maxDriverTypes: Long = 1L << 19): DataFrame = {
    require(k >= 1 && k <= 65536, s"k: $k")
    val ti = df.schema.fieldIndex(textCol)
    require(df.schema(ti).dataType == StringType,
      s"$textCol must be STRING, got ${df.schema(ti).dataType}")
    val spark = df.sparkSession
    import spark.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val hist = df.select(col(textCol)).as[String]
      .flatMap(t => if (t == null) Nil else preTokenize(t))
      .groupBy("value").count()
      .as[(String, Long)]
      .map { case (w, c) =>
        (c, w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .map(b => String.valueOf((b & 0xff).toChar)))
      }
      .toDF("cnt", "toks")
      .persist(lvl)
    val nTypes = hist.count()
    val learned =
      if (nTypes <= maxDriverTypes)
        learnMergesLocal(
          hist.as[(Long, Array[String])].collect(), k)
      else learnMergesDistributed(hist, k)
    hist.unpersist()
    learned.toDF("rank", "left_tok", "right_tok", "pair_count")
  }

  /** Driver-side merge loop over the collected word-type histogram —
    * semantics identical to [[learnMergesDistributed]]. */
  private[graft] def learnMergesLocal(
      histogram: Array[(Long, Array[String])], k: Int)
      : Seq[(Int, String, String, Long)] = {
    var words = histogram
    val learned =
      scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var exhausted = false
    for (rank <- 0 until k if !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      words.foreach { case (c, toks) =>
        var i = 0
        while (i < toks.length - 1) {
          val key = (toks(i), toks(i + 1))
          if (!seen.contains(toks(i) + toks(i + 1)))
            counts.update(key, counts.getOrElse(key, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // argmax by (count desc, l asc, r asc) — chars are all < 256 so
        // Java ordering == UTF8 binary ordering == the distributed sort
        val ((l, r), c) = counts.minBy { case ((pl, pr), pc) =>
          (-pc, pl, pr)
        }
        learned += ((rank, l, r, c))
        seen += (l + r)
        words = words.map { case (cn, toks) =>
          (cn, applyPair(toks, l, r))
        }
      }
    }
    learned.toSeq
  }

  /** Distributed merge loop — one pair-count groupBy + one argmax row
    * per round over the persisted vocab-bounded histogram.
    * private[graft] so BpeSpec can drive it with engineered token
    * histograms (the collision guard's trigger states are unreachable
    * from char-seeded corpora). */
  private[graft] def learnMergesDistributed(hist: DataFrame, k: Int)
      : Seq[(Int, String, String, Long)] = {
    val spark = hist.sparkSession
    import spark.implicits._
    var cur = hist
    val learned =
      scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var exhausted = false
    for (rank <- 0 until k if !exhausted) {
      var cand = cur.as[(Long, Array[String])]
        .flatMap { case (c, toks) =>
          (0 until toks.length - 1).iterator
            .map(i => (toks(i), toks(i + 1), c))
        }
        .toDF("l", "r", "c")
        .groupBy("l", "r").agg(sum("c").as("c"))
      if (seen.nonEmpty) {
        // typed filter over an immutable snapshot — an isin(...) here
        // would inline up to k (≤65536) string LITERALS into the plan,
        // O(k²) plan growth across the loop on exactly the large-k
        // path this method exists for; the closure ships one hash set
        val seenNow: Set[String] = seen.toSet
        cand = cand.filter((r: org.apache.spark.sql.Row) =>
          !seenNow.contains(r.getString(0) + r.getString(1)))
      }
      val best = cand
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect() // ONE row per round, by construction
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (best.head.getString(0), best.head.getString(1),
            best.head.getLong(2))
        learned += ((rank, l, r, c))
        seen += (l + r)
        // per-round EAGER Graft.snap, the CC-loop discipline: it
        // cuts the logical plan (LogicalRDD over materialized blocks),
        // so every round plans against a depth-1 input. The previous
        // persist-per-round + checkpoint-every-16 variant was measured
        // QUADRATIC in wall (k=64 cost 140× k=6 at sf0.1): Spark's
        // non-cascading unpersist of round r's cache RECOMPILES the
        // dependent round-(r+1) cache entry without it, so late rounds
        // in each window re-derived ever-deeper typed-map chains.
        // Checkpointed RDD blocks are released by the ContextCleaner
        // when the previous round's frame goes unreferenced.
        cur = graft.Graft.snap(cur.as[(Long, Array[String])]
          .map { case (cn, toks) => (cn, applyPair(toks, l, r)) }
          .toDF("cnt", "toks"))
      }
    }
    learned.toSeq
  }

  // ------------------------------------------------------------------
  // Tokenizer artifact round-trip — the standard GPT-2 merges.txt /
  // vocab.json FILE SHAPE, so a table learned here can drive other
  // toolchains and vice versa. Internal tokens are raw-byte chars
  // (0-255); files use the GPT-2 byte→unicode remap (every byte gets a
  // PRINTABLE char, so merges.txt survives editors, whitespace splits,
  // and JSON keys). Id semantics stay OURS (byte value = id 0-255,
  // merge rank r = 256+r — the layout bpeEncode emits and the scaladoc
  // at the top documents); GPT-2 proper numbers its byte tokens in
  // bytes_to_unicode iteration order instead, which is why vocab.json
  // ships the explicit token→id map at all.
  // ------------------------------------------------------------------

  /** GPT-2 `bytes_to_unicode`: printable Latin-1 bytes map to
    * themselves; the other 68 bytes map to 256+n in byte order (so
    * space = 'Ġ' U+0120, newline = 'Ċ' U+010A — the famous ones). */
  private[graft] val byteToUnicode: Array[Char] = {
    val direct = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ'))
      .map(_.toInt).toSet
    var n = 0
    (0 until 256).map { b =>
      if (direct(b)) b.toChar
      else { val c = (256 + n).toChar; n += 1; c }
    }.toArray
  }

  private[graft] val unicodeToByte: Map[Char, Int] =
    byteToUnicode.zipWithIndex.map { case (c, b) => c -> b }.toMap

  private def mapToken(rawTok: String): String =
    rawTok.map(c => byteToUnicode(c.toInt)).mkString

  private def unmapToken(fileTok: String): String =
    fileTok.map { c =>
      unicodeToByte.getOrElse(c, throw new IllegalArgumentException(
        s"not a byte-remap char: U+${c.toInt.toHexString} in '$fileTok'"))
        .toChar
    }.mkString

  private def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Write a learned merge table ([[learnMerges]] output shape:
    * rank, left_tok, right_tok, pair_count) as `<dir>/merges.txt` +
    * `<dir>/vocab.json`. merges.txt: `#version: 0.2` header, one
    * `left right` line per rank (remapped alphabet — no raw spaces or
    * control bytes, so the single-space separator is unambiguous).
    * vocab.json: token → id for the 256 byte tokens (id = byte value)
    * and every merged token (id = 256 + rank). Paths go through the
    * Hadoop FileSystem API, so `dir` may be local, HDFS, or s3a —
    * the artifact is vocab-bounded (a 50k-merge table is ~1 MB), a
    * driver-side write by nature. */
  def exportTokenizer(merges: DataFrame, dir: String): Unit = {
    val spark = merges.sparkSession
    import spark.implicits._
    val rows = merges.select("rank", "left_tok", "right_tok")
      .as[(Int, String, String)].collect().sortBy(_._1)
    rows.zipWithIndex.foreach { case ((r, _, _), i) =>
      require(r == i, s"merge ranks must be contiguous from 0: " +
        s"saw rank $r at position $i")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(conf)
    fs.mkdirs(base)
    def write(name: String, content: String): Unit = {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(base, name), true)
      try out.write(content.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    write("merges.txt",
      "#version: 0.2\n" + rows.map { case (_, l, r) =>
        s"${mapToken(l)} ${mapToken(r)}"
      }.mkString("", "\n", "\n"))
    val vocab =
      (0 until 256).map(b =>
        s""""${jsonEscape(byteToUnicode(b).toString)}": $b""") ++
      rows.map { case (rank, l, r) =>
        s""""${jsonEscape(mapToken(l + r))}": ${256 + rank}""" }
    write("vocab.json", vocab.mkString("{", ", ", "}"))
  }

  /** Read `<dir>/merges.txt` back into the rank-ordered pair list
    * [[bpeEncode]] takes — the inverse of [[exportTokenizer]], so
    * `importMerges(export(learn(df)))` encodes bit-identically to the
    * learned table (BpeSpec pins the round-trip, non-ASCII included).
    * Blank lines and `#`-prefixed headers are skipped; each line is
    * `left right` in the remapped alphabet. A line that is not two
    * space-separated remap tokens fails fast — a tokenizer artifact
    * is config, not corpus data, and a silently dropped merge rule
    * would corrupt every id downstream. */
  def importMerges(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Seq[(String, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir, "merges.txt")
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val text =
      try {
        val bo = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n > 0) { bo.write(buf, 0, n); n = in.read(buf) }
        new String(bo.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
    text.split("\n", -1).iterator
      .map(_.stripSuffix("\r"))
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        val parts = line.split(" ", -1)
        require(parts.length == 2,
          s"malformed merges.txt line (want 'left right'): '$line'")
        (unmapToken(parts(0)), unmapToken(parts(1)))
      }
      .toSeq
  }

  /** Append `bpe_tokens: array<string>` + `bpe_ids: array<int>` for
    * `textCol`, encoding with `merges` (order = rank). Merge ranks are
    * BROADCAST (one copy per executor); the encode is a narrow map —
    * passthrough columns survive via the same Encoders.row shape as
    * [[graft.sources.Http.parseHttpResponses]]. NULL text yields empty
    * arrays (a row is never dropped by tokenization). */
  def bpeEncode(df: DataFrame, textCol: String,
                merges: Seq[(String, String)] = demoMerges): DataFrame = {
    require(merges.nonEmpty, "empty merge table")
    require(merges.distinct.length == merges.length,
      "duplicate merge pair — ranks would be ambiguous")
    import org.apache.spark.sql.{Encoders, Row}
    Seq("bpe_tokens", "bpe_ids").foreach(c =>
      require(!df.columns.contains(c),
        s"Bpe.bpeEncode: df already has a '$c' column — rename it first"))
    val ti = df.schema.fieldIndex(textCol)
    require(df.schema(ti).dataType == StringType,
      s"$textCol must be STRING, got ${df.schema(ti).dataType}")
    val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val ids: Map[String, Int] =
      merges.zipWithIndex.map { case ((l, r), i) => (l + r) -> (256 + i) }
        .toMap
    require(ids.size == merges.length,
      "two merge rules produce the same token string — ids would collide")
    val spark = df.sparkSession
    val bcRanks = spark.sparkContext.broadcast(ranks)
    val bcIds = spark.sparkContext.broadcast(ids)
    val outSchema = StructType(df.schema.fields.toSeq ++ Seq(
      StructField("bpe_tokens", ArrayType(StringType, containsNull = false)),
      StructField("bpe_ids", ArrayType(IntegerType, containsNull = false))))
    df.map({ r =>
      val toks = encode(r.getAs[String](ti), bcRanks.value)
      val tokIds = toks.map { t =>
        if (t.length == 1 && t.charAt(0) < 256) t.charAt(0).toInt
        else bcIds.value(t)
      }
      Row.fromSeq(r.toSeq ++ Seq(toks, tokIds))
    })(Encoders.row(outSchema))
  }
}
