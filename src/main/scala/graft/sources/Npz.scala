package graft.sources

import java.io.{DataInputStream, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.ZipFile

/** Minimal NumPy `.npy` / `.npz` reader (format spec: NEP-1, public) — an
  * ingestion source for numpy-interchange data (the reference ships its
  * real SSMIS swath as `test_files/ssmis_swath.npz`, loaded with np.load
  * at `test_swath.py:35-47`).
  *
  * Scope: C-order arrays of little-endian f4/f8/i4/i8, the formats numpy
  * emits by default; values are upcast to Double. The reader is
  * driver-side (numpy files are single blobs, not splittable); for
  * cluster-scale numpy ingestion convert to parquet once — this class is
  * the ingest step for exactly that.
  */
object Npz {

  final case class NpyArray(shape: Seq[Int], data: Array[Double], fortranOrder: Boolean = false) {
    def rows: Int = shape.headOption.getOrElse(0)
    def cols: Int = if (shape.size > 1) shape(1) else 1
    def apply(r: Int, c: Int): Double =
      if (fortranOrder) data(c * rows + r) else data(r * cols + c)
  }

  /** Read one array from an .npy stream. */
  def readNpy(in: InputStream): NpyArray = {
    val d = new DataInputStream(in)
    val magic = new Array[Byte](6)
    d.readFully(magic)
    require(magic.map(_ & 0xff).sameElements(Array(0x93, 'N', 'U', 'M', 'P', 'Y')),
      "not an NPY stream")
    val major = d.readUnsignedByte(); d.readUnsignedByte() // minor
    val headerLen =
      if (major == 1) {
        val b = new Array[Byte](2); d.readFully(b)
        ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getShort & 0xffff
      } else {
        val b = new Array[Byte](4); d.readFully(b)
        ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt
      }
    val headerBytes = new Array[Byte](headerLen)
    d.readFully(headerBytes)
    val header = new String(headerBytes, "ASCII")

    def field(name: String): String = {
      val i = header.indexOf(s"'$name':")
      require(i >= 0, s"missing $name in NPY header: $header")
      header.substring(i + name.length + 3)
    }
    val descr = field("descr").dropWhile(c => c == ' ' || c == '\'').takeWhile(_ != '\'')
    val fortran = field("fortran_order").trim.startsWith("True")
    val shape = field("shape").dropWhile(_ != '(').drop(1).takeWhile(_ != ')')
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    val elemSize = descr match {
      case "<f4" | "<i4" => 4
      case "<f8" | "<i8" => 8
      case other => throw new IllegalArgumentException(s"unsupported NPY dtype $other")
    }
    // element and byte counts via multiplyExact: plain Long multiplication
    // can wrap around to a small positive value for pathological shapes
    // with several huge dimensions, defeating a >= 0 guard
    require(shape.forall(_ >= 0), s"negative NPY dim in shape ${shape.mkString("x")}")
    val byteCount =
      try {
        val n = shape.foldLeft(1L)((acc, s) => Math.multiplyExact(acc, s.toLong))
        Math.multiplyExact(n, elemSize.toLong)
      } catch {
        case _: ArithmeticException => Long.MaxValue
      }
    require(byteCount <= Int.MaxValue - 8,
      s"NPY array too large for driver-side read: shape ${shape.mkString("x")} " +
        s"— convert to parquet with a chunked external tool instead")
    val nLong = byteCount / elemSize
    val n = nLong.toInt
    val raw = new Array[Byte](n * elemSize)
    d.readFully(raw)
    val buf = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Double](n)
    var i = 0
    descr match {
      case "<f4" => while (i < n) { out(i) = buf.getFloat(i * 4).toDouble; i += 1 }
      case "<f8" => while (i < n) { out(i) = buf.getDouble(i * 8); i += 1 }
      case "<i4" => while (i < n) { out(i) = buf.getInt(i * 4).toDouble; i += 1 }
      case "<i8" => while (i < n) { out(i) = buf.getLong(i * 8).toDouble; i += 1 }
    }
    NpyArray(shape, out, fortran)
  }

  /** Read all arrays of an .npz file (a ZIP of `<name>.npy` entries). */
  def readNpz(path: String): Map[String, NpyArray] = {
    val zf = new ZipFile(path)
    try {
      import scala.jdk.CollectionConverters._
      zf.entries().asScala.map { e =>
        val name = e.getName.stripSuffix(".npy")
        val in = zf.getInputStream(e)
        try name -> readNpy(in) finally in.close()
      }.toMap
    } finally zf.close()
  }
}
