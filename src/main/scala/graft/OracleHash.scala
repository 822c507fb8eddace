package graft

/** DuckDB-dialect SQL builders for the HASH-BEARING oracle queries: FNV-1a 64,
  * byte-kgram SimHash64, the greedy windowed dedup scan, MinHash mixing, and
  * byte-exact preview truncation. Everything is 64-bit MODULAR arithmetic done
  * in HUGEINT (128-bit) with explicit `% 2^64`, byte access via hex-nibble
  * extraction (DuckDB 1.0 has no get_byte/blob-substring), so the driver's
  * DuckDB oracle recomputes the signatures INDEPENDENTLY of the Spark side —
  * no materialized intermediates, a genuinely adversarial check.
  *
  * Validated against the reference kernel semantics (reference:
  * internal/dedupe/dedupe.go:120-257) by the DuckDB oracle parity of the
  * hash-bearing queries.
  */
object OracleHash {

  val M64 = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
  private val FnvOff = "CAST(14695981039346656037 AS HUGEINT)"
  private val FnvPrime = "1099511628211"

  /** UTF-8 byte values (BIGINT[]) of a VARCHAR expression — list-lambda form
    * for short strings (shingles, media refs); the bulk path uses the
    * vectorized unnest form in [[simhashCtes]].
    */
  def bytesList(x: String): String =
    s"list_transform(range(1, strlen($x) + 1), i -> " +
      s"CAST(strpos('0123456789ABCDEF', substr(hex(encode($x)), 2*i-1, 1)) - 1 AS BIGINT) * 16 + " +
      s"(strpos('0123456789ABCDEF', substr(hex(encode($x)), 2*i, 1)) - 1))"

  /** FNV-1a 64 left fold over a BIGINT[] byte-list expression -> HUGEINT in
    * [0, 2^64). XOR touches only the low 8 bits (byte < 256), so it is
    * `h - h%256 + xor(h%256, b)`; the multiply wraps via explicit mod.
    */
  def fnvFold(bytesExpr: String): String =
    s"list_reduce(list_prepend($FnvOff, $bytesExpr), " +
      s"(h, b) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), b)) * $FnvPrime) % $M64)"

  /** fnv1a64 of a VARCHAR expression (HUGEINT unsigned). */
  def fnvOf(x: String): String = fnvFold(bytesList(x))

  /** HUGEINT in [0,2^64) -> two's-complement signed BIGINT (Spark LongType). */
  def toSigned(u: String): String =
    s"CAST(CASE WHEN ($u) >= CAST(9223372036854775808 AS HUGEINT) " +
      s"THEN ($u) - $M64 ELSE ($u) END AS BIGINT)"

  /** UBIGINT -> signed BIGINT via HUGEINT detour. */
  def toSignedU(u: String): String =
    s"CAST(CASE WHEN ($u) >= CAST(9223372036854775808 AS UBIGINT) " +
      s"THEN CAST($u AS HUGEINT) - $M64 ELSE CAST($u AS HUGEINT) END AS BIGINT)"

  /** CTE chain (to splice after an existing `WITH ... ,`) computing
    * simhash64(<textCol>, k) for every row of CTE `src`, which must provide a
    * UNIQUE VARCHAR key column `rk`. Emits CTE `out` = src rows + `sig`
    * (signed BIGINT; 0 for rows whose text has < k bytes, matching the
    * kernel's empty-kgram rule).
    *
    * Vectorized relational form: unnest byte positions, hex-nibble byte
    * extraction, k-1 window leads for the k-gram, an inlined k-step FNV
    * chain, 64 conditional SUMs for the bit counters (tie -> 0 via strict >).
    */
  def simhashCtes(src: String, textCol: String, k: Int, out: String): String = {
    require(k >= 1 && k <= 16)
    val leads = (1 until k).map(j => s"lead(b0, $j) OVER ${out}w AS b$j").mkString(", ")
    val leadSel = if (k == 1) "" else s", $leads"
    var h = FnvOff
    for (j <- 0 until k)
      h = s"((($h) - (($h)) % 256 + xor(CAST((($h)) % 256 AS BIGINT), b$j)) * $FnvPrime) % $M64"
    val lastB = s"b${k - 1}"
    val bitSums = (0 until 64).map(b =>
      s"SUM(CAST((h >> $b) & 1 AS BIGINT)) AS s$b").mkString(", ")
    // bit weights as PRECOMPUTED literals: DuckDB constant-folds
    // `CAST(1 AS UBIGINT) << 63` through the cast and overflows
    val sigExpr = (0 until 64).map(b =>
      s"CASE WHEN 2*s$b > cnt THEN CAST(${BigInt(1) << b} AS UBIGINT) ELSE CAST(0 AS UBIGINT) END")
      .mkString(" + ")
    s"""${out}_hb AS (SELECT rk, hex(encode($textCol)) AS hx, strlen($textCol) AS nb FROM $src),
${out}_pos AS (SELECT rk, unnest(range(1, nb + 1)) AS i, hx FROM ${out}_hb),
${out}_byt AS (SELECT rk, i,
    CAST(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1 AS BIGINT) * 16 +
    (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS b0 FROM ${out}_pos),
${out}_win AS (SELECT rk, i, b0$leadSel FROM ${out}_byt WINDOW ${out}w AS (PARTITION BY rk ORDER BY i)),
${out}_hs AS (SELECT rk, CAST($h AS UBIGINT) AS h FROM ${out}_win WHERE $lastB IS NOT NULL),
${out}_cs AS (SELECT rk, COUNT(*) AS cnt, $bitSums FROM ${out}_hs GROUP BY rk),
${out}_sg AS (SELECT rk, $sigExpr AS sig_u FROM ${out}_cs),
$out AS (SELECT t.*, COALESCE(${toSignedU("s.sig_u")}, CAST(0 AS BIGINT)) AS sig
         FROM $src t LEFT JOIN ${out}_sg s USING (rk))"""
  }

  /** RECURSIVE CTE chain for the reference's greedy windowed dedup scan
    * (reference: internal/dedupe/dedupe.go:193-257): input CTE `inCte` has
    * (doc_id, id, idx, sig BIGINT); emits CTE `out` with one verdict row per
    * chunk: (doc_id, v_id, v_idx, v_kept, v_match, v_dist, v_korder).
    * `window` 0 = compare against all kept; match = earliest kept chunk at
    * strictly-minimal Hamming distance <= thr. Validated against a Python
    * port of the reference loop across window configs (0/1/2/250).
    */
  def greedyCtes(inCte: String, thr: Int, window: Int, out: String): String = {
    val lo =
      if (window > 0)
        s"CASE WHEN len(ksigs) > $window THEN len(ksigs) - $window + 1 ELSE 1 END"
      else "1"
    val dists =
      s"list_transform(list_slice(ksigs, $lo, len(ksigs)), s -> bit_count(xor(s, cs[i+1].sig)))"
    val mind = s"list_min(list_filter($dists, d -> d <= $thr))"
    s"""${out}_ord AS (
  SELECT doc_id, list(struct_pack(id := id, idx := idx, sig := sig) ORDER BY idx) AS cs
  FROM $inCte GROUP BY doc_id),
${out}_scan AS (
  SELECT doc_id, cs, 0 AS i,
         CAST([] AS BIGINT[]) AS ksigs, CAST([] AS VARCHAR[]) AS kids,
         CAST(NULL AS VARCHAR) AS v_id, CAST(NULL AS BIGINT) AS v_idx,
         CAST(NULL AS BOOLEAN) AS v_kept, CAST(NULL AS VARCHAR) AS v_match,
         CAST(NULL AS INT) AS v_dist, CAST(NULL AS BIGINT) AS v_korder
  FROM ${out}_ord
  UNION ALL
  SELECT doc_id, cs, i + 1,
         CASE WHEN $mind IS NULL THEN list_append(ksigs, cs[i+1].sig) ELSE ksigs END,
         CASE WHEN $mind IS NULL THEN list_append(kids, cs[i+1].id) ELSE kids END,
         cs[i+1].id, cs[i+1].idx,
         $mind IS NULL,
         CASE WHEN $mind IS NULL THEN NULL
              ELSE kids[$lo + list_position($dists, $mind) - 1] END,
         $mind,
         CASE WHEN $mind IS NULL THEN len(kids) ELSE NULL END
  FROM ${out}_scan WHERE i < len(cs)),
$out AS (SELECT doc_id, v_id, v_idx, v_kept, v_match, v_dist, v_korder
         FROM ${out}_scan WHERE v_id IS NOT NULL)"""
  }

  /** Byte-exact preview truncation (reference: internal/dedupe/dedupe.go:97-101):
    * first `max` UTF-8 BYTES + "..." when longer. A cut landing mid-rune
    * yields ONE U+FFFD for the incomplete trailing sequence — matching the
    * JVM's lossy UTF-8 decode of the byte-sliced prefix (kernel byteTruncate).
    * The trailing-incomplete-sequence length is derived from the last <=3
    * byte values of the prefix (source text is valid UTF-8, so that is the
    * only malformation a cut can introduce).
    */
  def previewSql(x: String, max: Int): String = {
    // byte value at 1-based position p of x (via hex nibbles)
    def byteAt(p: String): String =
      s"(CAST(strpos('0123456789ABCDEF', substr(hex(encode($x)), 2*($p)-1, 1)) - 1 AS BIGINT) * 16 + " +
        s"(strpos('0123456789ABCDEF', substr(hex(encode($x)), 2*($p), 1)) - 1))"
    val bN = byteAt(s"$max")      // last byte of the prefix
    val bN1 = byteAt(s"${max - 1}")
    val bN2 = byteAt(s"${max - 2}")
    // trailing incomplete-sequence length t in {0,1,2,3}
    val t =
      s"""CASE WHEN $bN >= 192 THEN 1
         WHEN $bN >= 128 THEN
           CASE WHEN $bN1 >= 224 THEN 2
                WHEN $bN1 >= 128 AND $bN1 < 192 AND $bN2 >= 240 THEN 3
                ELSE 0 END
         ELSE 0 END"""
    val cut = s"($max - ($t))"
    val sliced = s"CAST(unhex(substr(hex(encode($x)), 1, 2*$cut)) AS VARCHAR)"
    s"""CASE WHEN strlen($x) > $max THEN
      $sliced || CASE WHEN ($t) > 0 THEN chr(65533) ELSE '' END || '...'
    ELSE $x END"""
  }

  /** MinHash mixing (mirrors graft.ops.Similarity.minhashU): given a HUGEINT
    * fnv hash expr `h` (in [0,2^64)), the i-th hash-function value
    * rotl64(h, (i*7+1)&63) * (2654435761 + 2i) + i  mod 2^64, as UBIGINT.
    */
  def minhashMix(h: String, i: Int): String = {
    val r = (i * 7 + 1) & 63
    val rot =
      if (r == 0) s"CAST($h AS HUGEINT)"
      else
        s"((CAST($h AS HUGEINT) * CAST(${BigInt(1) << r} AS HUGEINT)) % $M64" +
          s" + (CAST($h AS UBIGINT) >> ${64 - r}))"
    s"CAST((($rot) * CAST(${2654435761L + 2L * i} AS HUGEINT) + $i) % $M64 AS UBIGINT)"
  }
}
