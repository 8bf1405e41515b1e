package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Plan-time IVF codebook: the trained centroid matrix, resolved ONCE on the
  * driver (like [[graft.raquet.BandKernel]]) and shipped as a field of the
  * expression the [[TileKernelExpression]] template binds into generated
  * code — assignment runs as tight primitive loops inside whole-stage
  * codegen, no per-row broadcast lookup or UDF boxing.
  *
  * The inverted-file design follows the published IVF-flat structure
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search", §IV):
  * coarse-quantize every corpus vector to its nearest centroid ("cell"),
  * search probes only the `nprobe` cells nearest the query and re-ranks
  * candidates exactly.
  */
final case class IvfCodebook(centroids: Array[Array[Double]]) extends Serializable {
  def nlist: Int = centroids.length
  def dim: Int = if (centroids.isEmpty) 0 else centroids(0).length

  /** Squared L2 distance to centroid c. */
  private def dist2(vec: Array[Double], c: Int): Double = {
    val cen = centroids(c)
    var s = 0.0
    var d = 0
    val n = math.min(vec.length, cen.length)
    while (d < n) { val t = vec(d) - cen(d); s += t * t; d += 1 }
    s
  }

  /** Nearest centroid id (ties → lowest id). */
  def cell(vec: Array[Double]): Int = {
    var best = 0
    var bd = dist2(vec, 0)
    var c = 1
    while (c < centroids.length) {
      val d = dist2(vec, c)
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** The `nprobe` nearest centroid ids, ascending by distance (ties →
    * lowest id); distinct by construction. */
  def nearestCells(vec: Array[Double], nprobe: Int): Array[Int] = {
    val n = math.min(nprobe, centroids.length)
    val sorted = Array.tabulate(centroids.length)(c => (dist2(vec, c), c))
      .sortBy(t => (t._1, t._2))
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = sorted(i)._2; i += 1 }
    out
  }
}

/** vec_ivf_cell(embedding) → the vector's inverted-list id (coarse
  * quantization — the index-build side of IVF). */
case class VecIvfCell(child: Expression, codebook: IvfCodebook) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_ivf_cell"
  def compute(vec: Any): Any = codebook.cell(vec.asInstanceOf[ArrayData].toDoubleArray())
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** vec_ivf_probe_cells(embedding, nprobe) → the nprobe nearest list ids
  * (the query side of IVF — explode and equi-join against the index). */
case class VecIvfProbeCells(child: Expression, codebook: IvfCodebook, nprobe: Int)
    extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_ivf_probe_cells"
  def compute(vec: Any): Any = ArrayData.toArrayData(
    codebook.nearestCells(vec.asInstanceOf[ArrayData].toDoubleArray(), nprobe))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
