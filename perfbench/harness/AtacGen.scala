package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.sources.H5ad.H5adInput
import graft.sources.MiniHdf5Writer

/** Seeded input for the product build: `datasets` datasets, each with a
  * `cell_by_bin.h5ad` and a `cell_by_gene.h5ad` in `<uuid>/`, plus a donors
  * TSV. About a fifth of the cells are missing from one of the two
  * modalities, so the build's intersection drops them. Values are small
  * whole numbers, so every sum is exact in floating point.
  *
  * The expected product totals are computed here from the generated
  * arrays, without calling program code, and written to `expected.json`. */
object AtacGen {
  val Modalities = Seq("cell_by_bin", "cell_by_gene")
  private val Features = Map("cell_by_bin" -> 2000, "cell_by_gene" -> 500)
  private val NnzPerCell = Map("cell_by_bin" -> 40, "cell_by_gene" -> 20)

  final case class Input(files: Seq[H5adInput], donorsTsv: String)

  def inputsIn(dir: Path): Input = {
    val files = Files.readAllLines(dir.resolve("files.tsv")).toArray.map(_.toString)
      .filter(_.nonEmpty).map(_.split('\t')).map(f => H5adInput(f(0), f(1), f(2))).toSeq
    Input(files, dir.resolve("donors.tsv").toString)
  }

  /** Generate into `dir` unless a complete earlier generation is there. */
  def ensure(dir: Path, seed: Long, datasets: Int, cells: Int): Input = {
    if (!Files.exists(dir.resolve("done"))) generate(dir, seed, datasets, cells)
    inputsIn(dir)
  }

  private def generate(dir: Path, seed: Long, datasets: Int, cells: Int): Unit = {
    val rng = new scala.util.Random(seed)
    Files.createDirectories(dir)
    val files = mutable.ArrayBuffer.empty[String]
    val donors = mutable.ArrayBuffer("uuid\tdonor_id\tage\tsex")
    val groups = mutable.ArrayBuffer.empty[String]
    val keptBarcodes = mutable.HashSet.empty[String]
    var totalRows = 0L
    (0 until datasets).foreach { d =>
      val uuid = Iterator.fill(32)("0123456789abcdef"(rng.nextInt(16))).mkString
      donors += s"$uuid\tdonor-$d\t${20 + rng.nextInt(60)}\t${if (rng.nextBoolean()) "F" else "M"}"
      val barcodes = Array.fill(cells)(Iterator.fill(16)("ACGT"(rng.nextInt(4))).mkString + "-1")
      // 0 = in both modalities, 1 = missing from bins, 2 = missing from genes
      val missing = Array.fill(cells)(if (rng.nextDouble() < 0.2) 1 + rng.nextInt(2) else 0)
      val ddir = dir.resolve(uuid)
      Files.createDirectories(ddir)
      Modalities.zipWithIndex.foreach { case (m, mi) =>
        val present = (0 until cells).filter(c => missing(c) != mi + 1)
        val nFeat = Features(m)
        val indptr = mutable.ArrayBuilder.make[Long]; indptr += 0L
        val indices = mutable.ArrayBuilder.make[Long]
        val data = mutable.ArrayBuilder.make[Double]
        var nnz = 0L
        var keptRows = 0L
        var keptSum = 0L
        present.foreach { c =>
          // at least one nonzero, so every listed cell shows up in the fact
          val k = 1 + rng.nextInt(2 * NnzPerCell(m))
          val cols = rng.shuffle((0 until nFeat).toVector).take(k).sorted
          cols.foreach { j =>
            val v = 1 + rng.nextInt(5)
            indices += j.toLong; data += v.toDouble
            if (missing(c) == 0) { keptRows += 1; keptSum += v }
          }
          nnz += k
          indptr += nnz
        }
        val path = ddir.resolve(s"$m.h5ad")
        MiniHdf5Writer.writeH5ad(path.toString, present.map(barcodes(_)),
          (0 until nFeat).map(j => f"${m.stripPrefix("cell_by_")}%s-$j%05d"),
          data.result(), indices.result(), indptr.result())
        files += s"$path\t$uuid\t$m"
        groups += s"""{"modality": "$m", "dataset": "$uuid", "rows": $keptRows, "value_sum": $keptSum}"""
        totalRows += keptRows
      }
      (0 until cells).filter(missing(_) == 0).foreach(c => keptBarcodes += barcodes(c))
    }
    Files.writeString(dir.resolve("files.tsv"), files.mkString("", "\n", "\n"))
    Files.writeString(dir.resolve("donors.tsv"), donors.mkString("", "\n", "\n"))
    Files.writeString(dir.resolve("expected.json"),
      s"""{"rows": $totalRows, "total_cell_count": ${keptBarcodes.size}, "groups": [${groups.mkString(", ")}]}""")
    Files.writeString(dir.resolve("done"), "")
  }
}
