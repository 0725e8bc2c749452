package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE tokenizer APPLICATION — the per-row token count of a
  * text under a learned merge sequence, via the priority-merge
  * algorithm production tokenizers use (repeatedly merge the
  * LOWEST-RANK pair present, leftmost occurrence first), which is
  * O(word_len · log word_len) per word INDEPENDENT of |merges|.
  *
  * Why it exists: the portable Column form replays merges as |merges|
  * chained regexp_replace passes (kept as BpeApplySpec's reference) —
  * exactly right at the spec's 8 merges, but a real subword vocabulary
  * is 30k–50k merges = tens of thousands of regex passes over every
  * row. Priority application is equivalent to sequential rank-order
  * replay for every WELL-FORMED merge table — one where each merge's
  * operands are base characters or outputs of EARLIER merges, which is
  * what training produces by construction — because a later-rank merge
  * can then never create an occurrence of an earlier-rank pair;
  * leftmost-first greedy tie handling within a rank matches the regex
  * engine's scan. (An ill-formed table — an early rank referencing a
  * symbol only a later rank creates — CAN diverge: the sequential
  * replay has passed the early rank before its operand exists. Trained
  * tables cannot contain such an entry.) The equivalence is pinned
  * against the regex replay in BpeApplySpec, including on corpora ×
  * merge tables TRAINED by bpeMerges on random text.
  *
  * Semantics mirror applyBpeMerges' counting: words = split(text, " ")
  * at limit −1 (empty words from repeated spaces contribute 0 tokens);
  * token count = Σ over words of the word's post-merge symbol count.
  * NULL text yields NULL.
  */
case class BpeTokenCount(
    child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string column, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_bpe_token_count"

  override def nullable: Boolean = true

  @transient private lazy val table = new BpeApplyTable(merges)

  override protected def nullSafeEval(v: Any): Any =
    table.count(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeApplyTable].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $ref.count($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

/** Preprocessed merge table: rank lookup as a nested map (left →
  * right → rank) so the per-pair probe builds no pair key. Serializable
  * — it ships to executors inside the expression. */
class BpeApplyTable(merges: Seq[(String, String)]) extends Serializable {
  @transient private lazy val rank: java.util.HashMap[String, java.util.HashMap[String, Integer]] = {
    val m = new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      m.computeIfAbsent(l, _ => new java.util.HashMap[String, Integer]())
        .putIfAbsent(r, Integer.valueOf(i))
    }
    m
  }
  /** Token count of the whole text: Σ over space-split words of the
    * word's symbol count after priority BPE merging. */
  def count(s: UTF8String): Long = {
    val str = s.toString
    var total = 0L
    var start = 0
    var i = 0
    val n = str.length
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        if (i > start) total += countWord(str, start, i)
        start = i + 1
      }
      i += 1
    }
    total
  }

  /** Symbol count of one word after priority merging. Symbols are a
    * linked list over the word's chars (syms(k) is the symbol starting
    * at char k, null once merged into its left neighbour); every
    * adjacent pair with a rank sits in a heap keyed on
    * (rank << 32 | k), so each step merges the lowest-rank, leftmost
    * pair — the same choice a full rescan makes — in O(log word_len).
    * A merge invalidates the entries of the pairs it destroyed; they
    * are dropped when popped, because the pair now starting at their
    * position no longer has their rank. */
  private def countWord(str: String, from: Int, until: Int): Long = {
    val len = until - from
    if (len == 1) return 1L
    val syms = new Array[String](len)
    val next = new Array[Int](len)
    val prev = new Array[Int](len)
    var k = 0
    while (k < len) {
      syms(k) = String.valueOf(str.charAt(from + k))
      next(k) = k + 1
      prev(k) = k - 1
      k += 1
    }
    // rank of the pair (symbol k, its right neighbour), -1 when unranked
    def rankAt(k: Int): Int = {
      val byL = rank.get(syms(k))
      val r = if (byL == null) null else byL.get(syms(next(k)))
      if (r == null) -1 else r.intValue()
    }
    val heap = new java.util.PriorityQueue[java.lang.Long]()
    def push(k: Int): Unit =
      if (k >= 0 && next(k) < len) {
        val r = rankAt(k)
        if (r >= 0) heap.add((r.toLong << 32) | k)
      }
    k = 0
    while (k < len - 1) { push(k); k += 1 }
    var m = len
    while (!heap.isEmpty) {
      val e: Long = heap.poll()
      val pos = e.toInt
      if (syms(pos) != null && next(pos) < len && rankAt(pos) == (e >>> 32).toInt) {
        val right = next(pos)
        syms(pos) = syms(pos) + syms(right)
        syms(right) = null
        next(pos) = next(right)
        if (next(right) < len) prev(next(right)) = pos
        m -= 1
        push(prev(pos))
        push(pos)
      }
    }
    m.toLong
  }
}

object BpeTokenCount {
  val name = "graft_bpe_token_count"
  val info = new ExpressionInfo(classOf[BpeTokenCount].getName, name)
  val builder: Seq[Expression] => Expression = { children =>
    FunctionBuilders.arity(name, 3, children)
    def strings(e: Expression, what: String): Seq[String] = e match {
      case Literal(v: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(StringType, _)) =>
        v.toObjectArray(StringType).map(_.asInstanceOf[UTF8String].toString).toSeq
      case _ => FunctionBuilders.invalidParam(name, what,
        "expects an array<string> literal (a trained merge-rule column)")
    }
    val ls = strings(children(1), "lefts")
    val rs = strings(children(2), "rights")
    if (ls.length != rs.length)
      FunctionBuilders.invalidParam(name, "rights",
        s"lefts/rights length mismatch: ${ls.length} vs ${rs.length}")
    BpeTokenCount(children.head, ls.zip(rs))
  }
}
