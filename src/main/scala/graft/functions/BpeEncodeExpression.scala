package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native deterministic BPE tokenizer for B122 (Sennrich et al., ACL'16 —
  * the subword bridge between b101's whitespace tokens and model-ready
  * ids; reference scope per SURVEY §2C tier (b)).
  *
  * `bpe_encode(text)` → the space-joined token-id string of `text` under
  * the FROZEN merge table shipped as the classpath resource
  * `graft/bpe_merges.txt` (trained once by tools/train_bpe.py; the
  * checked-in file IS the tokenizer — no runtime training, so every
  * engine and every SF tokenizes identically). Whitespace pre-tokenizes;
  * merges are applied strictly in rank order, leftmost-first and
  * non-overlapping within each rank — for a well-formed BPE table (any
  * merge consuming a symbol ranks after the merge creating it, and a
  * merge can only DELETE adjacencies of older symbols, never create
  * them) this single rank-ordered pass is exactly greedy
  * lowest-rank-first BPE, which is what lets the DuckDB oracle replay it
  * as a chain of string `replace`s on a marker-delimited symbol string
  * (BpeTokenize.bpeOracleSql) and the spec cross-check it against the
  * priority-queue spelling.
  *
  * Ids: 'a'..'z' → 1..26 in alphabet order (0 reserved for out-of-vocab
  * single chars, unreachable on the generated corpora — the spec pins
  * the alphabet), merge k (1-based rank) → 26 + k.
  *
  * Scale posture: pure map-side scalar inside whole-stage codegen — the
  * tokenize pass shuffles nothing at any corpus size. The word→ids memo
  * (bounded, per executor) exploits natural-language Zipf: a handful of
  * distinct words dominate any shard, so the per-word merge loop runs
  * once per distinct word, not once per occurrence. */
case class BpeEncodeExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "bpe_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.catalogString}")
    }

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    BpeEncodeExpression.encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeEncodeExpression.encode($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpression =
    copy(child = newChild)
}

object BpeEncodeExpression {

  /** The frozen merge table, rank order, from the checked-in resource. */
  val merges: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "missing classpath resource graft/bpe_merges.txt")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(l, r) = line.split(" ", 2)
      (l, r)
    }.toVector
    finally src.close()
  }

  /** token text → id: base chars 1..26, merge k → 26 + k. */
  val tokenIds: Map[String, Int] = {
    val base = ('a' to 'z').zipWithIndex.map { case (c, i) => (c.toString, i + 1) }
    val merged = merges.zipWithIndex.map { case ((l, r), k) => (l + r, 27 + k) }
    // a merge result can collide with nothing: base ids are single chars,
    // merge results are ≥ 2 chars, and train_bpe never emits duplicates
    (base ++ merged).toMap
  }

  /** Zipf memo: distinct words per shard ≪ occurrences. Bounded so an
    * adversarial high-cardinality corpus degrades to cache misses, never
    * to unbounded executor memory. */
  private val memoCap = 65536
  /** ADVICE r14: cap KEY size too — the entry-count cap alone leaves
    * retained width unbounded on adversarial/high-entropy corpora (64Ki
    * arbitrary-length words per executor JVM for the process lifetime).
    * Words past this length are encoded but never memoized, bounding
    * retained heap to memoCap * O(memoMaxKeyLen). Real-token hit rates
    * are unaffected (natural-language words are far shorter). */
  private val memoMaxKeyLen = 64
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def encodeWord(w: String): String = {
    val cached = memo.get(w)
    if (cached != null) return cached
    var syms = w.map(_.toString).toArray
    merges.foreach { case (l, r) =>
      if (syms.length >= 2) {
        val out = Array.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2 // leftmost-first, non-overlapping
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    val ids = syms.map(s => tokenIds.getOrElse(s, 0)).mkString(" ")
    if (w.length <= memoMaxKeyLen && memo.size < memoCap) memo.put(w, ids)
    ids
  }

  /** Shared by eval, the generated code, and the spec's JVM oracle. */
  def encode(s: UTF8String): UTF8String = {
    val words = s.toString.split(" ", -1).filter(_.nonEmpty)
    UTF8String.fromString(words.map(encodeWord).mkString(" "))
  }

  def build(children: Seq[Expression]): BpeEncodeExpression = {
    if (children.size != 1)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "bpe_encode",
          "expectedNum" -> "1",
          "actualNum" -> children.size.toString,
          "docroot" -> "NA"))
    BpeEncodeExpression(children.head)
  }

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
