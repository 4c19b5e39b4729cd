package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** HDF5 writer: emits the same spec subset [[MiniHdf5]] reads
  * (superblock v0, v1 object headers, symbol-table groups, contiguous
  * or chunked datasets, vlen strings via global heap collections of at
  * most 65,535 strings each),
  * byte-by-byte per the PUBLIC HDF5 format spec — no h5py/libhdf5
  * exists in this environment. Layout mirrors what h5py's
  * earliest-libver writer produces for the same content.
  *
  * Lives in main (moved from test support, round 17) so the engine can
  * also WRITE the reference's wire format — h5ad round-trip fixtures
  * ([[PartitionedData.eventsH5adLanding]]) and any downstream consumer
  * expecting AnnData CSR files get a real sink, and the oracled
  * `scan_h5ad_roundtrip` query pins writer AND reader against DuckDB
  * on the parquet original.
  */
object MiniHdf5Writer {

  private val Undef = -1L // 0xFFFF... = HDF5 "undefined address"

  private final class Buf {
    val out = new ByteArrayOutputStream()
    def pos: Long = out.size().toLong
    def u8(v: Int): Unit = out.write(v & 0xff)
    def bytes(b: Array[Byte]): Unit = out.write(b)
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def u32(v: Long): Unit = { u16(v.toInt); u16((v >> 16).toInt) }
    def u64(v: Long): Unit = { u32(v); u32(v >> 32) }
    def ascii(s: String): Unit = bytes(s.getBytes("US-ASCII"))
    def pad8(): Unit = while (pos % 8 != 0) u8(0)
  }

  private def doubleBytes(d: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(d.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    d.foreach(bb.putDouble); bb.array()
  }
  private def floatBytes(d: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(d.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    d.foreach(x => bb.putFloat(x.toFloat)); bb.array()
  }
  private def longBytes(d: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(d.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    d.foreach(bb.putLong); bb.array()
  }
  private def intBytes(d: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(d.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    d.foreach(x => bb.putInt(x.toInt)); bb.array()
  }

  /** Datatype message bodies (class+version byte, bit field, size,
    * properties) per spec §IV.A.2.d. */
  private def dtInt(size: Int): Array[Byte] = {
    val b = new Buf
    b.u8(0x10); b.u8(0x08); b.u8(0); b.u8(0) // v1 class0, LE signed
    b.u32(size)
    b.u16(0); b.u16(size * 8) // bit offset, precision
    b.out.toByteArray
  }
  private def dtFloat(size: Int): Array[Byte] = {
    val b = new Buf
    b.u8(0x11) // v1 class1
    if (size == 8) {
      b.u8(0x20); b.u8(0x3f); b.u8(0) // LE, mantissa-normalized, sign bit 63
      b.u32(8)
      b.u16(0); b.u16(64); b.u8(52); b.u8(11); b.u8(0); b.u8(52); b.u32(1023)
    } else {
      b.u8(0x20); b.u8(0x1f); b.u8(0) // sign bit 31
      b.u32(4)
      b.u16(0); b.u16(32); b.u8(23); b.u8(8); b.u8(0); b.u8(23); b.u32(127)
    }
    b.out.toByteArray
  }
  private val dtVlenStr: Array[Byte] = {
    val b = new Buf
    b.u8(0x19) // v1 class9 (vlen)
    b.u8(0x01); b.u8(0x01); b.u8(0) // type=string, pad=nullterm, cset=UTF-8
    b.u32(16) // element size: len(4)+addr(8)+idx(4)
    // base type: 1-byte string
    b.u8(0x13); b.u8(0); b.u8(0); b.u8(0); b.u32(1)
    b.out.toByteArray
  }

  private sealed trait Content
  /** `shuffle` prepends the byte-transpose filter (h5py `shuffle=True`);
    * `lzf` compresses chunks with LZF (h5py `compression='lzf'`) instead
    * of deflate; `foreignFilter` writes an arbitrary (id, name) filter
    * pipeline with RAW chunk payloads — for testing that the reader
    * refuses unknown filters by name before touching data. */
  private final case class Dset(dtype: Array[Byte], n: Int,
      data: Array[Byte], elemSize: Int = 0, chunkElems: Int = 0,
      shuffle: Boolean = false,
      lzf: Boolean = false,
      zstd: Boolean = false,
      fletcher32: Boolean = false,
      foreignFilter: Option[(Int, String)] = None) extends Content

  /** Minimal greedy libLZF compressor (test-only): literal runs +
    * back-references per the LZF format — naive O(n·window) match
    * search, fine at fixture sizes, and it produces REAL back-references
    * (including self-overlapping run encodings) so the reader's copy
    * path is exercised, not just literals. */
  private def lzfCompress(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val lit = new java.io.ByteArrayOutputStream()
    def flushLit(): Unit = {
      val b = lit.toByteArray
      var i = 0
      while (i < b.length) {
        val n = math.min(32, b.length - i)
        out.write(n - 1) // ctrl < 0x20: run of n literals
        out.write(b, i, n)
        i += n
      }
      lit.reset()
    }
    var i = 0
    while (i < in.length) {
      var bestLen = 0
      var bestRef = -1
      if (i + 3 <= in.length) {
        var ref = math.max(0, i - 8192) // distance field: 13 bits + 1
        val maxL = math.min(264, in.length - i) // 7 + 255 + 2
        while (ref < i) {
          var l = 0
          while (l < maxL && in(ref + l) == in(i + l)) l += 1
          if (l >= 3 && l > bestLen) { bestLen = l; bestRef = ref }
          ref += 1
        }
      }
      if (bestLen >= 3) {
        flushLit()
        val d = i - bestRef - 1
        val lenCode = bestLen - 2
        if (lenCode < 7) out.write((lenCode << 5) | (d >> 8))
        else { out.write((7 << 5) | (d >> 8)); out.write(lenCode - 7) }
        out.write(d & 0xff)
        i += bestLen
      } else { lit.write(in(i)); i += 1 }
    }
    flushLit()
    out.toByteArray
  }
  private final case class Group(children: Seq[(String, Content)]) extends Content

  /** Write one object (dataset or group) into `b`; returns its object
    * header address. */
  private def writeObject(b: Buf, c: Content): Long = c match {
    case Dset(dtype, n, data, elemSize, chunkElems, shuffle, lzf, zstd,
        fletcher, foreign)
        if chunkElems > 0 =>
      // CHUNKED + filters: split into chunks, (shuffle→)zlib each, link
      // them with a level-0 v1 chunk B-tree (key: size, mask, elem
      // offsets ×2).
      val chunkBytes = chunkElems * elemSize
      val chunks = data.grouped(chunkBytes).toSeq.map { raw0 =>
        // HDF5 chunks are always full-size: pad the tail chunk
        val full = if (raw0.length == chunkBytes) raw0
          else raw0 ++ new Array[Byte](chunkBytes - raw0.length)
        val pre = if (shuffle) {
          // byte-plane transpose: [byte0 of every element][byte1 of …]
          val un = new Array[Byte](full.length)
          val ne = full.length / elemSize
          for (i <- 0 until ne; j <- 0 until elemSize)
            un(j * ne + i) = full(i * elemSize + j)
          un
        } else full
        val comp =
          if (foreign.isDefined) pre // "compressed" payload never read back
          else if (lzf) lzfCompress(pre)
          else if (zstd) com.github.luben.zstd.Zstd.compress(pre, 3)
          else {
            val defl = new java.util.zip.Deflater()
            defl.setInput(pre); defl.finish()
            val outb = new Array[Byte](chunkBytes + 64)
            val sz = defl.deflate(outb)
            defl.end()
            java.util.Arrays.copyOf(outb, sz)
          }
        if (fletcher) {
          // HDF5's checksum filter appends fletcher32 of the compressed
          // bytes, little-endian
          val ck = MiniHdf5.fletcher32(comp, comp.length)
          comp ++ Array[Byte](ck.toByte, (ck >> 8).toByte,
            (ck >> 16).toByte, (ck >> 24).toByte)
        } else comp
      }
      val addrs = chunks.map { ch =>
        b.pad8(); val a = b.pos; b.bytes(ch); a
      }
      b.pad8()
      val btreeAddr = b.pos
      b.ascii("TREE"); b.u8(1); b.u8(0); b.u16(chunks.size)
      b.u64(Undef); b.u64(Undef)
      chunks.zipWithIndex.foreach { case (ch, i) =>
        b.u32(ch.length); b.u32(0) // stored size, filter mask
        b.u64(i.toLong * chunkElems); b.u64(0) // element offsets
        b.u64(addrs(i))
      }
      b.u32(0); b.u32(0); b.u64(n); b.u64(0) // final (greatest) key
      val space = { val m = new Buf
        m.u8(1); m.u8(1); m.u8(0); m.u8(0); m.u32(0)
        m.u64(n); m.out.toByteArray }
      val layout = { val m = new Buf
        m.u8(3); m.u8(2) // v3, chunked
        m.u8(2) // dimensionality = rank + 1
        m.u64(btreeAddr)
        m.u32(chunkElems); m.u32(elemSize)
        m.out.toByteArray }
      val filters = { val m = new Buf
        val fs: Seq[(Int, String, Seq[Int])] = foreign match {
          case Some((id, nm)) => Seq((id, nm, Seq.empty))
          case None =>
            (if (shuffle) Seq((2, "shuffle", Seq(elemSize))) else Seq.empty) ++
              Seq(if (lzf) (32000, "lzf", Seq.empty[Int])
                else if (zstd) (32015, "zstd", Seq.empty[Int])
                else (1, "deflate", Seq(6))) ++
              // fletcher32 LAST: checksums the compressed bytes
              (if (fletcher) Seq((3, "fletcher32", Seq.empty[Int]))
               else Seq.empty)
        }
        m.u8(1); m.u8(fs.size) // v1, n filters
        m.u16(0); m.u32(0) // reserved
        fs.foreach { case (id, nm, vals) =>
          m.u16(id)
          val nameLen = nm.length + 1 // incl NUL
          m.u16(nameLen)
          m.u16(1) // flags: optional
          m.u16(vals.size)
          m.ascii(nm); m.u8(0)
          (nameLen until ((nameLen + 7) / 8) * 8).foreach(_ => m.u8(0))
          vals.foreach(m.u32(_))
          if (vals.size % 2 == 1) m.u32(0) // pad to 8
        }
        m.out.toByteArray }
      writeHeader(b, Seq((0x0001, space), (0x0003, dtype),
        (0x0008, layout), (0x000B, filters)))
    case Dset(dtype, n, data, _, _, _, _, _, _, _) =>
      b.pad8()
      val dataAddr = b.pos
      b.bytes(data)
      b.pad8()
      // messages: dataspace v1, datatype, layout v3 (contiguous)
      val space = { val m = new Buf
        m.u8(1); m.u8(1); m.u8(0); m.u8(0); m.u32(0) // v1, rank1, flags, rsvd
        m.u64(n); m.out.toByteArray }
      val layout = { val m = new Buf
        m.u8(3); m.u8(1) // v3, contiguous
        m.u64(dataAddr); m.u64(data.length); m.out.toByteArray }
      writeHeader(b, Seq((0x0001, space), (0x0003, dtype), (0x0008, layout)))
    case Group(children) =>
      // children first (their header addresses go into the SNOD)
      val entries = children.map { case (name, cc) => (name, writeObject(b, cc)) }
        .sortBy(_._1) // symbol tables are name-sorted
      // local heap: 8 reserved bytes then the names, NUL-terminated
      val nameData = new Buf
      nameData.u64(0)
      val offs = entries.map { case (name, addr) =>
        val off = nameData.pos
        nameData.ascii(name); nameData.u8(0)
        (off, addr)
      }
      nameData.pad8()
      b.pad8()
      val heapDataAddr = b.pos
      b.bytes(nameData.out.toByteArray)
      b.pad8()
      val heapAddr = b.pos
      b.ascii("HEAP"); b.u8(0); b.u8(0); b.u8(0); b.u8(0)
      b.u64(nameData.pos) // data segment size
      b.u64(Undef) // no free list
      b.u64(heapDataAddr)
      b.pad8()
      val snodAddr = b.pos
      b.ascii("SNOD"); b.u8(1); b.u8(0); b.u16(entries.size)
      offs.foreach { case (off, addr) =>
        b.u64(off); b.u64(addr); b.u32(0); b.u32(0) // cache type 0
        b.u64(0); b.u64(0) // scratch
      }
      b.pad8()
      val btreeAddr = b.pos
      b.ascii("TREE"); b.u8(0); b.u8(0); b.u16(1) // group node, level 0, 1 child
      b.u64(Undef); b.u64(Undef)
      b.u64(0) // key0: heap offset 0
      b.u64(snodAddr)
      b.u64(offs.last._1) // keyN: last name
      b.pad8()
      val symtab = { val m = new Buf; m.u64(btreeAddr); m.u64(heapAddr)
        m.out.toByteArray }
      writeHeader(b, Seq((0x0011, symtab)))
  }

  /** v1 object header: 12-byte prologue + 4 pad, then 8-byte-aligned
    * messages (type, size, flags, reserved×3, padded body). */
  private def writeHeader(b: Buf, msgs: Seq[(Int, Array[Byte])]): Long = {
    def padded(n: Int) = ((n + 7) / 8) * 8
    b.pad8()
    val addr = b.pos
    b.u8(1); b.u8(0)
    b.u16(msgs.size)
    b.u32(1) // reference count
    b.u32(msgs.map(m => 8 + padded(m._2.length)).sum)
    b.u32(0) // pad to 8-byte boundary for message data
    msgs.foreach { case (typ, body) =>
      b.u16(typ); b.u16(padded(body.length)); b.u8(0); b.u8(0); b.u8(0); b.u8(0)
      b.bytes(body)
      (body.length until padded(body.length)).foreach(_ => b.u8(0))
    }
    addr
  }

  /** Vlen-string dataset content: the (len, collectionAddr, index)
    * elements plus the global heap collections holding the bytes. Object
    * ids are 16-bit and id 0 marks free space, so the strings go into
    * consecutive collections of at most 65,535 objects each. */
  private def vlenContent(b: Buf, strings: Seq[String]): Dset = {
    def padded(n: Int) = ((n + 7) / 8) * 8
    val elems = new Buf
    val all = strings.map(_.getBytes("UTF-8"))
    // an empty dataset still gets its (empty) collection
    (if (all.isEmpty) Iterator(all) else all.grouped(65535)).foreach { blobs =>
      b.pad8()
      val colAddr = b.pos
      val colSize = 16L + blobs.map(x => 16 + padded(x.length)).sum + 16
      b.ascii("GCOL"); b.u8(1); b.u8(0); b.u8(0); b.u8(0)
      b.u64(colSize)
      blobs.zipWithIndex.foreach { case (blob, i) =>
        b.u16(i + 1); b.u16(1); b.u32(0)
        b.u64(blob.length)
        b.bytes(blob); b.pad8()
      }
      b.u16(0); b.u16(0); b.u32(0); b.u64(16) // free-space terminator
      blobs.zipWithIndex.foreach { case (blob, i) =>
        elems.u32(blob.length); elems.u64(colAddr); elems.u32(i + 1)
      }
    }
    Dset(dtVlenStr, strings.size, elems.out.toByteArray)
  }

  /** Write a miniature CSR h5ad: X/{data,indices,indptr}, obs/_index,
    * var/_index. `wide` selects f64+i64 (true) vs f32+i32 (false) to
    * exercise both numeric widths in the reader; `gzipChunks > 0` writes
    * the X datasets CHUNKED with that many elements per chunk and a
    * deflate filter (h5py `compression='gzip'` layout). */
  def writeH5ad(path: String, obsNames: Seq[String], varNames: Seq[String],
      data: Array[Double], indices: Array[Long], indptr: Array[Long],
      wide: Boolean = true, gzipChunks: Int = 0,
      shuffle: Boolean = false,
      lzf: Boolean = false,
      zstd: Boolean = false,
      fletcher32: Boolean = false,
      foreignFilter: Option[(Int, String)] = None): Unit = {
    require(indptr.length == obsNames.length + 1 && data.length == indices.length)
    val b = new Buf
    // reserve the 96-byte v0 superblock (patched at the end)
    (0 until 96).foreach(_ => b.u8(0))
    val obsIdx = vlenContent(b, obsNames)
    val varIdx = vlenContent(b, varNames)
    val g = gzipChunks
    val (sh, lz, zs, fl, ff) = (shuffle, lzf, zstd, fletcher32, foreignFilter)
    val x = Group(Seq(
      "data" -> (if (wide) Dset(dtFloat(8), data.length, doubleBytes(data), 8, g, sh, lz, zs, fl, ff)
        else Dset(dtFloat(4), data.length, floatBytes(data), 4, g, sh, lz, zs, fl, ff)),
      "indices" -> (if (wide) Dset(dtInt(8), indices.length, longBytes(indices), 8, g, sh, lz, zs, fl, ff)
        else Dset(dtInt(4), indices.length, intBytes(indices), 4, g, sh, lz, zs, fl, ff)),
      "indptr" -> Dset(dtInt(8), indptr.length, longBytes(indptr), 8, g, sh, lz, zs, fl, ff)))
    val root = Group(Seq(
      "X" -> x,
      "obs" -> Group(Seq("_index" -> obsIdx)),
      "var" -> Group(Seq("_index" -> varIdx))))
    val rootAddr = writeObject(b, root)
    val body = b.out.toByteArray
    // superblock v0
    val sb = new Buf
    sb.bytes(Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n').map(_.toByte))
    sb.u8(0); sb.u8(0); sb.u8(0); sb.u8(0) // sb/freespace/symtab versions
    sb.u8(0); sb.u8(8); sb.u8(8); sb.u8(0) // shared-hdr ver, offsets, lengths
    sb.u16(4); sb.u16(16) // group leaf / internal K
    sb.u32(0) // consistency flags
    sb.u64(0) // base address
    sb.u64(Undef) // free-space info
    sb.u64(body.length) // end of file
    sb.u64(Undef) // driver info
    // root symbol-table entry
    sb.u64(0); sb.u64(rootAddr); sb.u32(0); sb.u32(0); sb.u64(0); sb.u64(0)
    val sbb = sb.out.toByteArray
    System.arraycopy(sbb, 0, body, 0, sbb.length)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body)
  }
}
