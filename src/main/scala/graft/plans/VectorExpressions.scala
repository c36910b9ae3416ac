package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression for the embedding hot loop.
  *
  * The expression-composition dot product (`zip_with` + `aggregate`)
  * is semantically right but Spark evaluates higher-order functions
  * interpreted — per element that is a lambda-variable write, two
  * boxed casts, and a multiply through `Any`. At n·m scored pairs ×
  * 64 dims that interpreter tax dominates similarity queries. This
  * expression emits a tight primitive `for` loop via `doGenCode`, so
  * the whole scoring projection stays inside whole-stage codegen.
  *
  * Value contract: bit-identical to the composed form — same
  * left-to-right fold, same float→double widening per element, 0.0
  * for empty arrays.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def isFloatArray(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native sign-LSH sketch of an embedding: bit p of the result is set
  * iff the projection of the vector onto pseudo-random hyperplane p is
  * strictly positive. Hyperplane component (p, d) is
  * `xxhash64(p: int, d: int)` mapped into [−1, 1) by dividing by
  * Long.MaxValue — exactly the composed
  * `aggregate(zip_with(vec, sequence(...), ...))` form this replaces
  * ([[graft.operators.Similarity.signSketchComposed]]): same
  * seed-chained XXH64 (seed 42, the SQL `xxhash64` function's), same
  * left-to-right fold, same float→double widening, so sketches are
  * bit-identical (property-tested) and existing bucket assignments
  * don't move.
  *
  * Why native: the composed form ran `bits` independent interpreted
  * HOF folds per vector — 16 full passes with boxed lambda evaluation
  * in the LSH path's hottest loop. Here all `bits` accumulators
  * advance in ONE pass over the vector inside whole-stage codegen.
  */
case class SignSketch(child: Expression, bits: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if bits >= 1 && bits <= 30 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckFailure(
      s"graft_signsketch bits must be in [1, 30], got $bits")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_signsketch requires array<float>, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_signsketch"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    val acc = new Array[Double](bits)
    var d = 0
    while (d < n) {
      val x = v.getFloat(d).toDouble
      var p = 0
      while (p < bits) {
        // seed chain of xxhash64(lit(p), d): hashInt(p, 42) then hashInt(d, ·)
        acc(p) += x * (XXH64.hashInt(d, SignSketch.planeSeeds(p)).toDouble /
          Long.MaxValue.toDouble)
        p += 1
      }
      d += 1
    }
    var sketch = 0L
    var p = 0
    while (p < bits) { if (acc(p) > 0.0) sketch |= 1L << p; p += 1 }
    sketch
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val seeds = ctx.addReferenceObj("planeSeeds",
        java.util.Arrays.copyOf(SignSketch.planeSeeds, bits), "long[]")
      val n = ctx.freshName("n"); val d = ctx.freshName("d")
      val p = ctx.freshName("p"); val acc = ctx.freshName("acc")
      val x = ctx.freshName("x"); val sk = ctx.freshName("sk")
      s"""
         |int $n = $a.numElements();
         |double[] $acc = new double[$bits];
         |for (int $d = 0; $d < $n; $d++) {
         |  double $x = (double) $a.getFloat($d);
         |  for (int $p = 0; $p < $bits; $p++) {
         |    $acc[$p] += $x * ((double) $xxh.hashInt($d, $seeds[$p]) / 9.223372036854775807E18D);
         |  }
         |}
         |long $sk = 0L;
         |for (int $p = 0; $p < $bits; $p++) {
         |  if ($acc[$p] > 0.0D) $sk |= 1L << $p;
         |}
         |${ev.value} = $sk;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignSketch =
    copy(child = newChild)
}

object SignSketch {
  /** hashInt(p, 42) prefixes of the seed chain — shared across rows
    * and instances, serialization-safe (static, rebuilt per JVM).
    */
  private[plans] val planeSeeds: Array[Long] =
    Array.tabulate(30)(p => XXH64.hashInt(p, 42L))
}

/** Native IVF coarse-quantizer assignment: the top-`nAssign` centroid
  * ids for a vector, ranked by cosine descending with larger-id-wins
  * tie-breaking — exactly the `max(struct(cos, cid))` semantics of the
  * join-and-aggregate form it replaces, extended to n > 1
  * (multi-assignment "spill": boundary vectors land in their runner-up
  * lists too, which is where single-assignment IVF loses recall).
  *
  * Why an expression and not a join: the quantizer is DRIVER-sized by
  * construction (nCentroids rows), so shipping it into the expression
  * as a reference object turns assignment into a pure map — the
  * broadcast-nested-loop join against the centroid frame and the
  * corpus-wide `groupBy(corpusId).agg(max(...))` exchange both
  * disappear. On a 100 TB corpus that exchange was the IVF index
  * build's only shuffle; now the build is embarrassingly parallel.
  *
  * Value contract per centroid j: cos = 0 when |v|·|c_j| = 0, else
  * dot(v, c_j) / (|v|·|c_j|) with the same left-to-right double fold
  * as [[graft.operators.Similarity.cosineWithNorms]] over `graft_dot`,
  * so assignments agree bit-for-bit with the composed form
  * (property-tested in SimilaritySpec).
  */
case class IvfAssign(child: Expression, centroidIds: Array[Long],
                     centroidVecs: Array[Array[Float]], nAssign: Int)
  extends UnaryExpression {

  require(centroidIds.length == centroidVecs.length && centroidIds.nonEmpty,
    "graft_ivf_assign: centroid ids and vectors must align and be non-empty")
  require(nAssign >= 1, s"graft_ivf_assign: nAssign must be >= 1, got $nAssign")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf_assign requires array<float>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ivf_assign"

  // |c_j| per centroid, same sqrt(dot(c, c)) fold as Similarity.norm —
  // computed once per (plan, quantizer), shared across rows.
  @transient private lazy val centroidNorms: Array[Double] =
    IvfAssign.norms(centroidVecs)

  private def take = math.min(nAssign, centroidIds.length)

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val nd = v.numElements()
    var nv = 0.0
    var i = 0
    while (i < nd) { val x = v.getFloat(i).toDouble; nv += x * x; i += 1 }
    nv = math.sqrt(nv)
    val k = centroidIds.length
    val cos = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = centroidVecs(j)
      val d = nv * centroidNorms(j)
      if (d == 0.0) cos(j) = 0.0
      else {
        val n = math.min(nd, c.length)
        var s = 0.0
        var t = 0
        while (t < n) { s += v.getFloat(t).toDouble * c(t).toDouble; t += 1 }
        cos(j) = s / d
      }
      j += 1
    }
    val out = new Array[Long](take)
    val used = new Array[Boolean](k)
    var r = 0
    while (r < take) {
      var best = -1
      var jj = 0
      while (jj < k) {
        if (!used(jj) && (best < 0 || cos(jj) > cos(best) ||
          (cos(jj) == cos(best) && centroidIds(jj) > centroidIds(best)))) best = jj
        jj += 1
      }
      used(best) = true
      out(r) = centroidIds(best)
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ids = ctx.addReferenceObj("centroidIds", centroidIds, "long[]")
      val vecs = ctx.addReferenceObj("centroidVecs", centroidVecs, "float[][]")
      val nrms = ctx.addReferenceObj("centroidNorms", centroidNorms, "double[]")
      val nd = ctx.freshName("nd"); val nv = ctx.freshName("nv")
      val cos = ctx.freshName("cos"); val used = ctx.freshName("used")
      val out = ctx.freshName("out"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val t = ctx.freshName("t")
      val r = ctx.freshName("r"); val best = ctx.freshName("best")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      val c = ctx.freshName("c"); val n = ctx.freshName("n")
      s"""
         |int $nd = $a.numElements();
         |double $nv = 0.0;
         |for (int $i = 0; $i < $nd; $i++) {
         |  double ${nv}_x = (double) $a.getFloat($i);
         |  $nv += ${nv}_x * ${nv}_x;
         |}
         |$nv = java.lang.Math.sqrt($nv);
         |double[] $cos = new double[$ids.length];
         |for (int $j = 0; $j < $ids.length; $j++) {
         |  double $d = $nv * $nrms[$j];
         |  if ($d == 0.0D) { $cos[$j] = 0.0D; continue; }
         |  float[] $c = $vecs[$j];
         |  int $n = java.lang.Math.min($nd, $c.length);
         |  double $s = 0.0;
         |  for (int $t = 0; $t < $n; $t++) {
         |    $s += (double) $a.getFloat($t) * (double) $c[$t];
         |  }
         |  $cos[$j] = $s / $d;
         |}
         |long[] $out = new long[${take}];
         |boolean[] $used = new boolean[$ids.length];
         |for (int $r = 0; $r < ${take}; $r++) {
         |  int $best = -1;
         |  for (int $j = 0; $j < $ids.length; $j++) {
         |    if (!$used[$j] && ($best < 0 || $cos[$j] > $cos[$best] ||
         |        ($cos[$j] == $cos[$best] && $ids[$j] > $ids[$best]))) $best = $j;
         |  }
         |  $used[$best] = true;
         |  $out[$r] = $ids[$best];
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): IvfAssign =
    copy(child = newChild)
}

object IvfAssign {
  private[plans] def norms(vecs: Array[Array[Float]]): Array[Double] =
    vecs.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { val x = c(i).toDouble; s += x * x; i += 1 }
      math.sqrt(s)
    }
}

/** Two-level (hierarchical) coarse-quantizer assignment: centroids are
  * grouped into supercells (level-1 centroids); a vector first ranks
  * the S supercells, then scans only the member centroids of its top
  * `superProbe` supercells for its `nAssign` best. Per-row cost drops
  * from O(k) ([[IvfAssign]]'s flat scan) to O(S + superProbe·k/S) ≈
  * O(√k) at S ≈ √k — which is what keeps the AUTO-sized quantizer's
  * corpus assignment LINEARITHMIC instead of quadratic: with
  * nCentroids ∝ corpus/listSize (the constant-list-population rule), a
  * flat N·k scan is O(N²/listSize), the dominant super-linear term the
  * ×10/×30 media-IVF rehearsals measured. The same two-level shape is
  * how large-scale ANN systems keep big coarse quantizers assignable
  * (the inverted multi-index family, Babenko & Lempitsky 2012; FAISS'
  * hierarchical coarse quantizers).
  *
  * Assignment is APPROXIMATE when superProbe < S (a vector's true
  * nearest centroid can sit in an unprobed supercell); with
  * superProbe ≥ S it degenerates to a full scan and is CONTRACTUALLY
  * bit-identical to [[IvfAssign]] over the same members (same cosine
  * fold, same cos-desc/id-desc comparator — property-tested). Only the
  * floor-gated auto paths use superProbe < S; hash-gated fixtures stay
  * on the flat expression.
  *
  * Member layout: supercell s owns `memberIds/memberVecs` indices
  * `[memberStarts(s), memberStarts(s+1))`. Empty supercells must be
  * dropped by the builder (they could win the level-1 rank and
  * contribute nothing). Supercell ties break toward the larger
  * supercell INDEX, mirroring the member comparator's larger-id-wins.
  *
  * Output length is min(nAssign, scanned members) — callers that need
  * exactly nAssign use superProbe large enough that probed supercells
  * hold ≥ nAssign members (listSize ≫ nAssign in every production
  * sizing).
  */
case class IvfAssignHier(child: Expression,
                         superVecs: Array[Array[Float]],
                         memberStarts: Array[Int],
                         memberIds: Array[Long],
                         memberVecs: Array[Array[Float]],
                         superProbe: Int, nAssign: Int)
  extends UnaryExpression {

  require(superVecs.nonEmpty, "graft_ivf_assign_hier: no supercells")
  require(memberStarts.length == superVecs.length + 1 &&
    memberStarts.head == 0 && memberStarts.last == memberIds.length,
    "graft_ivf_assign_hier: memberStarts must bracket memberIds per supercell")
  require(memberStarts.sliding(2).forall(p => p(0) < p(1)),
    "graft_ivf_assign_hier: empty supercells must be dropped by the builder")
  require(memberIds.length == memberVecs.length && memberIds.nonEmpty,
    "graft_ivf_assign_hier: member ids and vectors must align and be non-empty")
  require(superProbe >= 1 && nAssign >= 1,
    s"graft_ivf_assign_hier: superProbe/nAssign must be >= 1, got $superProbe/$nAssign")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf_assign_hier requires array<float>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ivf_assign_hier"

  @transient private lazy val superNorms: Array[Double] =
    IvfAssign.norms(superVecs)
  @transient private lazy val memberNorms: Array[Double] =
    IvfAssign.norms(memberVecs)

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val nd = v.numElements()
    var nv = 0.0
    var i = 0
    while (i < nd) { val x = v.getFloat(i).toDouble; nv += x * x; i += 1 }
    nv = math.sqrt(nv)
    def cosTo(c: Array[Float], cn: Double): Double = {
      val d = nv * cn
      if (d == 0.0) 0.0
      else {
        val n = math.min(nd, c.length)
        var s = 0.0
        var t = 0
        while (t < n) { s += v.getFloat(t).toDouble * c(t).toDouble; t += 1 }
        s / d
      }
    }
    val nS = superVecs.length
    val sCos = new Array[Double](nS)
    var j = 0
    while (j < nS) { sCos(j) = cosTo(superVecs(j), superNorms(j)); j += 1 }
    val probe = math.min(superProbe, nS)
    val picked = new Array[Int](probe)
    val sUsed = new Array[Boolean](nS)
    var scanned = 0
    var r = 0
    while (r < probe) {
      var best = -1
      var jj = 0
      while (jj < nS) {
        if (!sUsed(jj) && (best < 0 || sCos(jj) > sCos(best) ||
          (sCos(jj) == sCos(best) && jj > best))) best = jj
        jj += 1
      }
      sUsed(best) = true
      picked(r) = best
      scanned += memberStarts(best + 1) - memberStarts(best)
      r += 1
    }
    val candIdx = new Array[Int](scanned)
    val candCos = new Array[Double](scanned)
    var w = 0
    r = 0
    while (r < probe) {
      val s0 = memberStarts(picked(r)); val s1 = memberStarts(picked(r) + 1)
      var m = s0
      while (m < s1) {
        candIdx(w) = m
        candCos(w) = cosTo(memberVecs(m), memberNorms(m))
        w += 1; m += 1
      }
      r += 1
    }
    val take = math.min(nAssign, scanned)
    val out = new Array[Long](take)
    val used = new Array[Boolean](scanned)
    r = 0
    while (r < take) {
      var best = -1
      var jj = 0
      while (jj < scanned) {
        if (!used(jj) && (best < 0 || candCos(jj) > candCos(best) ||
          (candCos(jj) == candCos(best) &&
            memberIds(candIdx(jj)) > memberIds(candIdx(best))))) best = jj
        jj += 1
      }
      used(best) = true
      out(r) = memberIds(candIdx(best))
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val sv = ctx.addReferenceObj("superVecs", superVecs, "float[][]")
      val sn = ctx.addReferenceObj("superNorms", superNorms, "double[]")
      val ms = ctx.addReferenceObj("memberStarts", memberStarts, "int[]")
      val mi = ctx.addReferenceObj("memberIds", memberIds, "long[]")
      val mv = ctx.addReferenceObj("memberVecs", memberVecs, "float[][]")
      val mn = ctx.addReferenceObj("memberNorms", memberNorms, "double[]")
      val nd = ctx.freshName("nd"); val nv = ctx.freshName("nv")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val t = ctx.freshName("t"); val r = ctx.freshName("r")
      val m = ctx.freshName("m"); val w = ctx.freshName("w")
      val best = ctx.freshName("best"); val s = ctx.freshName("s")
      val d = ctx.freshName("d"); val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val sCos = ctx.freshName("sCos"); val sUsed = ctx.freshName("sUsed")
      val picked = ctx.freshName("picked"); val scanned = ctx.freshName("scanned")
      val probe = ctx.freshName("probe")
      val candIdx = ctx.freshName("candIdx"); val candCos = ctx.freshName("candCos")
      val take = ctx.freshName("take"); val used = ctx.freshName("used")
      val out = ctx.freshName("out")
      s"""
         |int $nd = $a.numElements();
         |double $nv = 0.0;
         |for (int $i = 0; $i < $nd; $i++) {
         |  double ${nv}_x = (double) $a.getFloat($i);
         |  $nv += ${nv}_x * ${nv}_x;
         |}
         |$nv = java.lang.Math.sqrt($nv);
         |double[] $sCos = new double[$sv.length];
         |for (int $j = 0; $j < $sv.length; $j++) {
         |  double $d = $nv * $sn[$j];
         |  if ($d == 0.0D) { $sCos[$j] = 0.0D; continue; }
         |  float[] $c = $sv[$j];
         |  int $n = java.lang.Math.min($nd, $c.length);
         |  double $s = 0.0;
         |  for (int $t = 0; $t < $n; $t++) {
         |    $s += (double) $a.getFloat($t) * (double) $c[$t];
         |  }
         |  $sCos[$j] = $s / $d;
         |}
         |int $probe = java.lang.Math.min(${superProbe}, $sv.length);
         |int[] $picked = new int[$probe];
         |boolean[] $sUsed = new boolean[$sv.length];
         |int $scanned = 0;
         |for (int $r = 0; $r < $probe; $r++) {
         |  int $best = -1;
         |  for (int $j = 0; $j < $sv.length; $j++) {
         |    if (!$sUsed[$j] && ($best < 0 || $sCos[$j] > $sCos[$best] ||
         |        ($sCos[$j] == $sCos[$best] && $j > $best))) $best = $j;
         |  }
         |  $sUsed[$best] = true;
         |  $picked[$r] = $best;
         |  $scanned += $ms[$best + 1] - $ms[$best];
         |}
         |int[] $candIdx = new int[$scanned];
         |double[] $candCos = new double[$scanned];
         |int $w = 0;
         |for (int $r = 0; $r < $probe; $r++) {
         |  for (int $m = $ms[$picked[$r]]; $m < $ms[$picked[$r] + 1]; $m++) {
         |    $candIdx[$w] = $m;
         |    double $d = $nv * $mn[$m];
         |    if ($d == 0.0D) { $candCos[$w] = 0.0D; }
         |    else {
         |      float[] $c = $mv[$m];
         |      int $n = java.lang.Math.min($nd, $c.length);
         |      double $s = 0.0;
         |      for (int $t = 0; $t < $n; $t++) {
         |        $s += (double) $a.getFloat($t) * (double) $c[$t];
         |      }
         |      $candCos[$w] = $s / $d;
         |    }
         |    $w++;
         |  }
         |}
         |int $take = java.lang.Math.min(${nAssign}, $scanned);
         |long[] $out = new long[$take];
         |boolean[] $used = new boolean[$scanned];
         |for (int $r = 0; $r < $take; $r++) {
         |  int $best = -1;
         |  for (int $j = 0; $j < $scanned; $j++) {
         |    if (!$used[$j] && ($best < 0 || $candCos[$j] > $candCos[$best] ||
         |        ($candCos[$j] == $candCos[$best] &&
         |          $mi[$candIdx[$j]] > $mi[$candIdx[$best]]))) $best = $j;
         |  }
         |  $used[$best] = true;
         |  $out[$r] = $mi[$candIdx[$best]];
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): IvfAssignHier =
    copy(child = newChild)
}
