package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** Read-only HDF5 subset parser (SURVEY S4 follow-through) — JDK-only
  * ByteBuffer parsing of the public HDF5 File Format Specification,
  * covering the layout libhdf5 1.8/1.10 writes for NetCDF-4 files (the
  * container CDS-delivered ERA5 commonly arrives in; the reference's
  * `xarray.open_dataset` ingest reads exactly this —
  * `ERA5_Monthly_Means/Data Preprocessing/ERA5_preprocessing.ipynb`
  * cells 2-4). This closes the convert-first gap: `NetCdf.readVars`
  * now dispatches here on the `\x89HDF\r\n\x1a\n` magic instead of
  * failing toward `tools/convert_netcdf4.sh`.
  *
  * Supported surface (deliberately the netCDF-4/ERA5 shape, every
  * unsupported branch fail-fasts with the feature's spec name):
  *   - superblock v0/v1 (symbol-table root) and v2/v3 (direct root
  *     object header);
  *   - object headers v1 (with continuation blocks) and v2 ("OHDR",
  *     with "OCHK" continuations);
  *   - old-style groups (v1 B-tree + SNOD symbol nodes + local heap),
  *     compact new-style groups (Link messages), AND dense new-style
  *     groups/attributes (fractal heap + v2 B-tree — the layout libhdf5
  *     switches to past ~8 links or attributes, i.e. the many-variable
  *     netCDF-4 file): unfiltered managed heap objects, root direct
  *     block or one indirect level of direct children, depth-0 name
  *     index (several hundred entries at the default node size); huge/
  *     tiny/filtered heap objects and deeper B-trees fail-fast;
  *   - dataspaces v1/v2; datatypes: fixed-point (1/2/4/8, both
  *     signs/orders), IEEE float32/64, fixed strings, object
  *     references, vlen sequences (for DIMENSION_LIST) and vlen
  *     strings;
  *   - data layout v3 (compact, contiguous, chunked over a v1 B-tree
  *     chunk index) AND the common v4 (1.10+) shapes: compact,
  *     contiguous, chunked with Single Chunk (filtered or not),
  *     Implicit, and unpaged Fixed Array (both clients) indexes —
  *     robust to either chunk-dimensionality convention;
  *     paged/extensible-array and v2-B-tree chunk indexes fail-fast;
  *   - filter pipeline v1/v2 with deflate (`java.util.zip.Inflater`),
  *     shuffle (byte de-interleave), and fletcher32 (checksum strip);
  *   - attributes v1/v2/v3, including vlen-reference values resolved
  *     through global heap collections ("GCOL") — the netCDF-4
  *     `DIMENSION_LIST` encoding.
  *
  * Scale posture: identical to [[NetCdf]] / [[Xlsx]] — a driver-side
  * ingest seam for modest raw artifacts (parse once, `createDataFrame`,
  * land parquet). The 10M-row cap and long-layout emission are shared
  * with the CDF path so downstream grid → bbox → geocode runs unchanged.
  */
object Hdf5 {

  private val Undef = -1L // HDF5 "undefined address" (all ones) as signed

  // ---- parsed model ---------------------------------------------------

  /** Decoded datatype: `clazz` per spec (0 fixed, 1 float, 3 string,
    * 7 reference, 9 vlen), element `size` in bytes. */
  case class Dtype(clazz: Int, size: Int, littleEndian: Boolean,
                   signed: Boolean, vlenIsString: Boolean = false,
                   base: Option[Dtype] = None)

  sealed trait Layout
  case class Compact(data: Array[Byte]) extends Layout
  case class Contiguous(addr: Long, size: Long) extends Layout
  case class Chunked(btree: Long, chunkDims: Seq[Int]) extends Layout
  /** v4 "Single Chunk" index: the whole dataset is one chunk at `addr`;
    * `filteredSize < 0` means unfiltered. `dims` may or may not carry
    * the trailing element-size entry — resolved against the dataspace
    * rank at decode time. */
  case class ChunkedSingle(addr: Long, dims: Seq[Int],
                           filteredSize: Long, filterMask: Int) extends Layout
  /** v4 "Implicit" index: unfiltered fixed-size chunks stored
    * back-to-back in row-major chunk-grid order starting at `addr`. */
  case class ChunkedImplicit(addr: Long, dims: Seq[Int]) extends Layout
  /** v4 "Fixed Array" index: chunk addresses (client 0) or
    * (address, size, mask) entries (client 1, filtered) in a fixed
    * array keyed by row-major chunk-grid index; `addr` is the FAHD
    * header. Unpaged arrays only — paged fail-fast. */
  case class ChunkedFixedArray(addr: Long, dims: Seq[Int]) extends Layout

  case class Filter(id: Int, flags: Int, values: Seq[Int])

  case class Dataset(name: String, addr: Long, shape: Seq[Long],
                     dtype: Dtype, layout: Layout, filters: Seq[Filter],
                     attrs: Map[String, Any])

  case class File(datasets: Seq[Dataset]) {
    lazy val byAddr: Map[Long, Dataset] = datasets.map(d => d.addr -> d).toMap
    def apply(name: String): Dataset = datasets.find(_.name == name)
      .getOrElse(sys.error(s"no dataset '$name'; have ${datasets.map(_.name)}"))
  }

  def isHdf5(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && bytes(0) == 0x89.toByte && bytes(1) == 'H' &&
      bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == 0x0d &&
      bytes(5) == 0x0a && bytes(6) == 0x1a && bytes(7) == 0x0a

  // ---- whole-file parse ----------------------------------------------

  def parse(bytes: Array[Byte]): File = new Parser(bytes).parse()

  def read(path: String): File =
    parse(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  private final class Parser(bytes: Array[Byte]) {
    private val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

    private def u8(p: Int): Int = bb.get(p) & 0xff
    private def u16(p: Int): Int = bb.getShort(p) & 0xffff
    private def u32(p: Int): Long = bb.getInt(p) & 0xffffffffL
    private def i64(p: Int): Long = bb.getLong(p)

    private def fail(what: String): Nothing =
      sys.error(s"HDF5 subset reader: unsupported $what — the supported " +
        "surface is the libhdf5-1.8-style netCDF-4 layout (see Hdf5.scala " +
        "scaladoc); convert exotic files once with tools/convert_netcdf4.sh")

    // ---- superblock ----

    def parse(): File = {
      require(isHdf5(bytes), "not an HDF5 file (missing \\x89HDF\\r\\n\\x1a\\n)")
      val ver = u8(8)
      val rootHeaderAddr = ver match {
        case 0 | 1 =>
          require(u8(13) == 8 && u8(14) == 8,
            s"size-of-offsets/lengths ${u8(13)}/${u8(14)} — only 8/8 supported")
          // v0: 24-byte fixed part (v1: +4) then 4 file addresses then the
          // root group symbol table entry
          val fixed = if (ver == 0) 24 else 28
          val entry = fixed + 4 * 8
          i64(entry + 8) // symbol table entry: link name offset, THEN header addr
        case 2 | 3 =>
          require(u8(9) == 8 && u8(10) == 8,
            s"size-of-offsets/lengths ${u8(9)}/${u8(10)} — only 8/8 supported")
          i64(12 + 3 * 8) // base, ext, eof, then root object header address
        case v => fail(s"superblock version $v")
      }
      val out = Seq.newBuilder[Dataset]
      walkGroup(rootHeaderAddr, "", out, Set.empty)
      File(out.result())
    }

    // ---- object headers (v1 and v2) ----

    /** (type, body-slice-position, body-size) triples in file order. */
    private def messages(headerAddr: Long): Seq[(Int, Int, Int)] = {
      val p = headerAddr.toInt
      if (u8(p) == 'O' && u8(p + 1) == 'H' && u8(p + 2) == 'D' && u8(p + 3) == 'R')
        messagesV2(p)
      else messagesV1(p)
    }

    private def messagesV1(p: Int): Seq[(Int, Int, Int)] = {
      require(u8(p) == 1, s"object header version ${u8(p)} at $p — expected 1")
      val total = u16(p + 2)
      val firstSize = u32(p + 8).toInt
      val out = Seq.newBuilder[(Int, Int, Int)]
      var n = 0
      // (block start, block size) work list; first block starts after the
      // 12-byte prefix + 4 pad bytes
      var blocks = List((p + 16, firstSize))
      while (blocks.nonEmpty && n < total) {
        val (start, size) = blocks.head
        blocks = blocks.tail
        var q = start
        while (q < start + size && n < total) {
          val t = u16(q)
          val sz = u16(q + 2)
          val body = q + 8
          if (t == 0x0010) { // continuation: address (O) + length (L)
            blocks = blocks :+ ((i64(body).toInt, i64(body + 8).toInt))
          } else out += ((t, body, sz))
          n += 1
          q = body + sz
        }
      }
      out.result()
    }

    private def messagesV2(p: Int): Seq[(Int, Int, Int)] = {
      require(u8(p + 4) == 2, s"OHDR version ${u8(p + 4)}")
      val flags = u8(p + 5)
      var q = p + 6
      if ((flags & 0x20) != 0) q += 8 // times
      if ((flags & 0x10) != 0) q += 4 // max compact/min dense attrs
      val chunk0Size = (flags & 0x3) match {
        case 0 => val v = u8(q); q += 1; v.toLong
        case 1 => val v = u16(q); q += 2; v.toLong
        case 2 => val v = u32(q); q += 4; v
        case 3 => val v = i64(q); q += 8; v
      }
      val trackOrder = (flags & 0x4) != 0
      val out = Seq.newBuilder[(Int, Int, Int)]
      // each block: (messages start, message byte count — the trailing
      // 4-byte gateway checksum is NOT part of the chunk-0 size)
      var blocks = List((q, chunk0Size.toInt))
      while (blocks.nonEmpty) {
        val (start, size) = blocks.head
        blocks = blocks.tail
        var r = start
        val end = start + size
        while (r < end) {
          val t = u8(r)
          val sz = u16(r + 1)
          val mflags = u8(r + 3)
          var body = r + 4
          if (trackOrder) body += 2
          if (t == 0x10) {
            // v2 continuation block: OCHK signature + messages + checksum
            val caddr = i64(body).toInt
            val clen = i64(body + 8).toInt
            require(u8(caddr) == 'O' && u8(caddr + 1) == 'C',
              "object header continuation without OCHK signature")
            blocks = blocks :+ ((caddr + 4, clen - 8))
          } else out += ((t, body, sz))
          r = body + sz
          val _ = mflags
        }
      }
      out.result()
    }

    // ---- groups ----

    private def walkGroup(headerAddr: Long, prefix: String,
                          out: scala.collection.mutable.Builder[Dataset, Seq[Dataset]],
                          seen: Set[Long]): Unit = {
      if (seen(headerAddr)) return
      val msgs = messages(headerAddr)
      val types = msgs.map(_._1).toSet
      val isDataset = types.contains(0x0008) // has a data layout → dataset
      if (isDataset) {
        out += parseDataset(headerAddr, prefix.stripSuffix("/") match {
          case "" => "/" case s => s
        }, msgs)
        return
      }
      // group: old-style symbol table and/or new-style link messages
      msgs.foreach {
        case (0x0011, body, _) => // symbol table: btree (O), local heap (O)
          val btree = i64(body)
          val heap = i64(body + 8)
          walkBtreeGroup(btree, heap, prefix, out, seen + headerAddr)
        case (0x0006, body, _) => // link message
          linkTarget(body).foreach { case (name, addr) =>
            walkGroup(addr, s"$prefix$name/", out, seen + headerAddr)
          }
        case (0x0002, body, sz) => // link info: dense (fractal-heap) links
          // version(1), flags(1), [max creation index(8)], fractal heap
          // addr (O), name index btree addr (O)
          val f = u8(body + 1)
          var q = body + 2
          if ((f & 1) != 0) q += 8
          val fheap = i64(q)
          if (fheap != Undef) {
            val nameBtree = i64(q + 8)
            if (nameBtree == Undef) fail("dense links without a name index")
            denseLinks(fheap, nameBtree).foreach { case (name, addr) =>
              walkGroup(addr, s"$prefix$name/", out, seen + headerAddr)
            }
          }
          val _ = sz
        case _ => ()
      }
    }

    /** Hard link name → object header address (soft/external links are
      * skipped: netCDF-4 does not write them). */
    private def linkTarget(body: Int): Option[(String, Long)] = {
      require(u8(body) == 1, s"link message version ${u8(body)}")
      val flags = u8(body + 1)
      var q = body + 2
      val ltype = if ((flags & 0x8) != 0) { val t = u8(q); q += 1; t } else 0
      if ((flags & 0x4) != 0) q += 8 // creation order
      if ((flags & 0x10) != 0) q += 1 // charset
      val nameLen = (flags & 0x3) match {
        case 0 => val v = u8(q); q += 1; v.toLong
        case 1 => val v = u16(q); q += 2; v.toLong
        case 2 => val v = u32(q); q += 4; v
        case 3 => val v = i64(q); q += 8; v
      }
      val name = new String(bytes, q, nameLen.toInt, "UTF-8")
      q += nameLen.toInt
      if (ltype == 0) Some(name -> i64(q)) else None
    }

    private def walkBtreeGroup(btreeAddr: Long, heapAddr: Long, prefix: String,
                               out: scala.collection.mutable.Builder[Dataset, Seq[Dataset]],
                               seen: Set[Long]): Unit = {
      val p = btreeAddr.toInt
      require(u8(p) == 'T' && u8(p + 1) == 'R' && u8(p + 2) == 'E' && u8(p + 3) == 'E',
        s"expected v1 B-tree (TREE) at $btreeAddr")
      require(u8(p + 4) == 0, "B-tree node type != group")
      val level = u8(p + 5)
      val nUsed = u16(p + 6)
      // keys/children after 2 sibling addresses; group keys are heap
      // offsets (L), children are addresses (O)
      var q = p + 8 + 16
      q += 8 // key 0
      (0 until nUsed).foreach { _ =>
        val child = i64(q); q += 8
        q += 8 // next key
        if (level > 0) walkBtreeGroup(child, heapAddr, prefix, out, seen)
        else walkSnod(child, heapAddr, prefix, out, seen)
      }
    }

    private def walkSnod(addr: Long, heapAddr: Long, prefix: String,
                         out: scala.collection.mutable.Builder[Dataset, Seq[Dataset]],
                         seen: Set[Long]): Unit = {
      val p = addr.toInt
      require(u8(p) == 'S' && u8(p + 1) == 'N' && u8(p + 2) == 'O' && u8(p + 3) == 'D',
        s"expected symbol node (SNOD) at $addr")
      val nSyms = u16(p + 6)
      (0 until nSyms).foreach { i =>
        val e = p + 8 + i * 40 // symbol table entry: 8+8+4+4+16
        val nameOff = i64(e)
        val header = i64(e + 8)
        val name = heapString(heapAddr, nameOff)
        walkGroup(header, s"$prefix$name/", out, seen)
      }
    }

    private def heapString(heapAddr: Long, off: Long): String = {
      val p = heapAddr.toInt
      require(u8(p) == 'H' && u8(p + 1) == 'E' && u8(p + 2) == 'A' && u8(p + 3) == 'P',
        s"expected local heap (HEAP) at $heapAddr")
      val dataAddr = i64(p + 24)
      val start = dataAddr.toInt + off.toInt
      var q = start
      while (bytes(q) != 0) q += 1
      // decode the byte slice as UTF-8, matching the v2 link-message and
      // attribute name paths — byte-by-byte toChar is Latin-1 and would
      // mojibake non-ASCII names in old-style groups, then fail lookup
      new String(bytes, start, q - start, java.nio.charset.StandardCharsets.UTF_8)
    }

    // ---- fractal heap + v2 B-tree (dense groups & attributes) ----
    //
    // libhdf5 switches a group from compact link messages to DENSE
    // storage past ~8 links (and attributes past ~8 per object): links/
    // attributes move into a fractal heap, indexed by a v2 B-tree on
    // name hash. This is exactly the "many-variable netCDF-4 file"
    // layout. Supported subset: unfiltered managed objects, root direct
    // block or one level of indirect block with direct children, and a
    // depth-0 (root-is-leaf) B-tree — at libhdf5's default node size
    // that covers several hundred links per group; everything beyond
    // fail-fasts with the feature name.

    private def checkSig(addr: Long, sig: String, what: String): Int = {
      val p = addr.toInt
      require(sig.indices.forall(i => u8(p + i) == sig.charAt(i)),
        s"expected $what ($sig) at $addr")
      p
    }

    /** Fractal heap header fields the reader needs. */
    private case class Frhp(heapIdLen: Int, flags: Int, tableWidth: Int,
                            startBlockSize: Long, maxDirectBlockSize: Long,
                            maxHeapSizeBits: Int, rootBlockAddr: Long,
                            curRows: Int) {
      def offsetBytes: Int = (maxHeapSizeBits + 7) / 8
    }

    private def parseFrhp(addr: Long): Frhp = {
      val p = checkSig(addr, "FRHP", "fractal heap header")
      if (u16(p + 7) != 0) fail("filtered fractal heap blocks")
      Frhp(heapIdLen = u16(p + 5), flags = u8(p + 9),
        tableWidth = u16(p + 110), startBlockSize = i64(p + 112),
        maxDirectBlockSize = i64(p + 120), maxHeapSizeBits = u16(p + 128),
        rootBlockAddr = i64(p + 132), curRows = u16(p + 140))
    }

    /** File position of a MANAGED object's first byte, from its heap ID
      * (1 flag byte, then the offset in heap space — heap space includes
      * each direct block's own header bytes, so translation is file
      * address of the covering block + offset within it). */
    private def heapObjectPos(fh: Frhp, id: Array[Byte]): Int = {
      if (((id(0) >> 4) & 0x3) != 0) fail("huge/tiny fractal heap objects")
      var off = 0L
      (0 until fh.offsetBytes).foreach { i =>
        off |= (id(1 + i) & 0xffL) << (8 * i)
      }
      resolveHeapOffset(fh, off)
    }

    private def resolveHeapOffset(fh: Frhp, off: Long): Int = {
      if (fh.curRows == 0) {
        // root block IS a direct block covering heap space [0, startSize)
        require(off < fh.startBlockSize,
          s"heap offset $off beyond the root direct block")
        checkSig(fh.rootBlockAddr, "FHDB", "fractal heap direct block")
        (fh.rootBlockAddr + off).toInt
      } else {
        // root indirect block: doubling table of direct children — row 0
        // and 1 hold width blocks of the starting size, row k >= 2 blocks
        // of startSize * 2^(k-1); children listed row-major
        val p = checkSig(fh.rootBlockAddr, "FHIB", "fractal heap indirect block")
        var q = p + 4 + 1 + 8 + fh.offsetBytes
        val log2 = (v: Long) => 63 - java.lang.Long.numberOfLeadingZeros(v)
        val maxDirectRows = log2(fh.maxDirectBlockSize) - log2(fh.startBlockSize) + 2
        var cum = 0L
        var row = 0
        while (row < fh.curRows) {
          if (row >= maxDirectRows) fail("nested indirect fractal heap blocks")
          val size = if (row < 2) fh.startBlockSize
                     else fh.startBlockSize << (row - 1)
          var c = 0
          while (c < fh.tableWidth) {
            val child = i64(q); q += 8
            if (off < cum + size) {
              require(child != Undef,
                s"heap offset $off falls in an unallocated block")
              checkSig(child, "FHDB", "fractal heap direct block")
              return (child + (off - cum)).toInt
            }
            cum += size
            c += 1
          }
          row += 1
        }
        sys.error(s"heap offset $off beyond the allocated fractal heap rows")
      }
    }

    /** Record positions of a v2 B-tree, depth 0 (root is a leaf) or
      * depth 1 (root is an internal node over leaf children) — at the
      * default 2 KiB node size that is ~185 and ~32k dense links
      * respectively; deeper trees fail-fast. Records are fixed-size;
      * layout depends on the record type. */
    private def btree2RecordPositions(addr: Long, expectType: Int): Seq[Int] = {
      val p = checkSig(addr, "BTHD", "v2 B-tree header")
      require(u8(p + 5) == expectType,
        s"v2 B-tree record type ${u8(p + 5)} — expected $expectType")
      val nodeSize = u32(p + 6)
      val recSize = u16(p + 10)
      val depth = u16(p + 12)
      val rootAddr = i64(p + 16)
      val rootNrec = u16(p + 24)
      def leafRecords(leafAddr: Long, nrec: Int): Seq[Int] = {
        val lp = checkSig(leafAddr, "BTLF", "v2 B-tree leaf")
        (0 until nrec).map(i => lp + 6 + i * recSize)
      }
      depth match {
        case 0 => leafRecords(rootAddr, rootNrec)
        case 1 =>
          // internal node: all records first, then nrec+1 child pointers
          // of (address, child record count). The count field's width is
          // the minimum bytes holding the max records ANY node can store
          // — the leaf bound, since internal nodes also carry pointers.
          val ip = checkSig(rootAddr, "BTIN", "v2 B-tree internal node")
          val leafMaxNrec = (nodeSize - 10) / recSize // sig+ver+type+checksum
          val nrecBytes = {
            var n = leafMaxNrec; var b = 0
            while (n > 0) { n >>= 8; b += 1 }
            math.max(b, 1)
          }
          val recs = (0 until rootNrec).map(i => ip + 6 + i * recSize)
          var q = ip + 6 + rootNrec * recSize
          val fromLeaves = (0 to rootNrec).flatMap { _ =>
            val childAddr = i64(q); q += 8
            var childNrec = 0L
            (0 until nrecBytes).foreach { i =>
              childNrec |= (bytes(q + i) & 0xffL) << (8 * i)
            }
            q += nrecBytes
            leafRecords(childAddr, childNrec.toInt)
          }
          recs ++ fromLeaves
        case d => fail(s"v2 B-tree depth $d (beyond one internal level)")
      }
    }

    /** Dense group links: every type-5 (link name) record's heap ID
      * resolves to a serialized Link message in the fractal heap. */
    private def denseLinks(fheapAddr: Long, btreeAddr: Long): Seq[(String, Long)] = {
      val fh = parseFrhp(fheapAddr)
      btree2RecordPositions(btreeAddr, expectType = 5).flatMap { r =>
        // record: hash of name (4), then the heap ID
        val id = java.util.Arrays.copyOfRange(bytes, r + 4, r + 4 + fh.heapIdLen)
        linkTarget(heapObjectPos(fh, id))
      }
    }

    /** Dense attributes: every type-8 (attribute name) record's heap ID
      * resolves to a serialized Attribute message. Same tolerance as the
      * compact path: an attribute outside the decoded subset is skipped,
      * never fatal. */
    private def denseAttributes(fheapAddr: Long, btreeAddr: Long): Seq[(String, Any)] = {
      val fh = parseFrhp(fheapAddr)
      btree2RecordPositions(btreeAddr, expectType = 8).flatMap { r =>
        // record: heap ID, message flags (1), creation order (4), hash (4)
        val id = java.util.Arrays.copyOfRange(bytes, r, r + fh.heapIdLen)
        val mflags = u8(r + fh.heapIdLen)
        if ((mflags & 0x02) != 0) fail("shared dense attribute messages")
        try Some(parseAttribute(heapObjectPos(fh, id)))
        catch { case scala.util.control.NonFatal(_) => None }
      }
    }

    // ---- datasets ----

    private def parseDataset(addr: Long, name: String,
                             msgs: Seq[(Int, Int, Int)]): Dataset = {
      var shape: Seq[Long] = Nil
      var dtype: Option[Dtype] = None
      var layout: Option[Layout] = None
      var filters: Seq[Filter] = Nil
      val attrs = Map.newBuilder[String, Any]
      msgs.foreach {
        case (0x0001, body, _) => shape = parseDataspace(body)
        case (0x0003, body, _) => dtype = Some(parseDatatype(body)._1)
        case (0x0008, body, _) => layout = Some(parseLayout(body))
        case (0x000B, body, _) => filters = parseFilters(body)
        case (0x000C, body, _) =>
          // tolerate attributes outside the decoded subset — netCDF-4
          // writes e.g. REFERENCE_LIST (compound, class 6) on every
          // dimension scale, and an undecodable auxiliary attribute must
          // not fail the dataset parse
          try {
            val (n, v) = parseAttribute(body)
            attrs += (n -> v)
          } catch { case scala.util.control.NonFatal(_) => () }
        case (0x0015, body, _) => // attribute info: dense attributes
          // version(1), flags(1), [max creation index(2)], fractal heap
          // addr (O), name index btree addr (O)
          val f = u8(body + 1)
          var q = body + 2
          if ((f & 1) != 0) q += 2
          val fheap = i64(q)
          if (fheap != Undef) {
            val nameBtree = i64(q + 8)
            if (nameBtree == Undef) fail("dense attributes without a name index")
            denseAttributes(fheap, nameBtree).foreach(attrs += _)
          }
        case _ => ()
      }
      Dataset(name, addr, shape,
        dtype.getOrElse(fail(s"dataset '$name' without a datatype message")),
        layout.getOrElse(fail(s"dataset '$name' without a layout message")),
        filters, attrs.result())
    }

    private def parseDataspace(body: Int): Seq[Long] = u8(body) match {
      case 1 =>
        val rank = u8(body + 1)
        (0 until rank).map(i => i64(body + 8 + i * 8))
      case 2 =>
        val rank = u8(body + 1)
        (0 until rank).map(i => i64(body + 4 + i * 8))
      case v => fail(s"dataspace version $v")
    }

    /** Returns (dtype, total encoded size) so nested (vlen base) types
      * can be walked. */
    private def parseDatatype(body: Int): (Dtype, Int) = {
      val clazz = u8(body) & 0x0f
      val bits0 = u8(body + 1)
      val size = u32(body + 4).toInt
      clazz match {
        case 0 => // fixed-point
          (Dtype(0, size, littleEndian = (bits0 & 1) == 0,
            signed = (bits0 & 0x08) != 0), 8 + 4)
        case 1 => // float — trust IEEE layout, honor byte order
          (Dtype(1, size, littleEndian = (bits0 & 1) == 0, signed = true), 8 + 12)
        case 3 => // fixed string
          (Dtype(3, size, littleEndian = true, signed = false), 8)
        case 7 => // reference
          (Dtype(7, size, littleEndian = true, signed = false), 8)
        case 9 => // vlen: bits0 low nibble: 0 sequence, 1 string
          val (base, baseSz) = parseDatatype(body + 8)
          (Dtype(9, size, littleEndian = true, signed = false,
            vlenIsString = (bits0 & 0x0f) == 1, base = Some(base)), 8 + baseSz)
        case c => fail(s"datatype class $c")
      }
    }

    private def parseLayout(body: Int): Layout = {
      u8(body) match {
        case 3 => u8(body + 1) match {
          case 0 =>
            val sz = u16(body + 2)
            Compact(java.util.Arrays.copyOfRange(bytes, body + 4, body + 4 + sz))
          case 1 => Contiguous(i64(body + 2), i64(body + 10))
          case 2 =>
            val ndims = u8(body + 2) // rank + 1 (element-size dim)
            val btree = i64(body + 3)
            val dims = (0 until ndims).map(i => u32(body + 11 + i * 4).toInt)
            Chunked(btree, dims)
          case c => fail(s"data layout class $c")
        }
        case 4 => u8(body + 1) match {
          // v4 compact/contiguous bodies match v3's
          case 0 =>
            val sz = u16(body + 2)
            Compact(java.util.Arrays.copyOfRange(bytes, body + 4, body + 4 + sz))
          case 1 => Contiguous(i64(body + 2), i64(body + 10))
          case 2 =>
            // chunked v4: flags(1), dimensionality(1), dim-size encoded
            // length(1), dims, chunk indexing type(1), index info, addr.
            // Whether `dims` carries the trailing element-size entry is
            // resolved against the dataspace rank at decode time, so
            // both conventions parse correctly.
            val flags = u8(body + 2)
            val ndims = u8(body + 3)
            val encLen = u8(body + 4)
            var q = body + 5
            val dims = (0 until ndims).map { _ =>
              var v = 0L
              (0 until encLen).foreach(i => v |= (bytes(q + i) & 0xffL) << (8 * i))
              q += encLen
              v.toInt
            }
            u8(q) match {
              case 1 => // single chunk; filtered variants carry size+mask
                q += 1
                val (fsize, fmask) =
                  if ((flags & 0x2) != 0) {
                    val s = i64(q); q += 8
                    val m = u32(q).toInt; q += 4
                    (s, m)
                  } else (-1L, 0)
                ChunkedSingle(i64(q), dims, fsize, fmask)
              case 2 => // implicit: address only, unfiltered
                q += 1
                ChunkedImplicit(i64(q), dims)
              case 3 => // fixed array: page bits byte, then header addr
                q += 2
                ChunkedFixedArray(i64(q), dims)
              case t => fail(s"v4 chunk index type $t " +
                "(extensible array, v2 B-tree chunk indexes — written only " +
                "for UNLIMITED-dimension append-grown datasets; re-pack " +
                "once via tools/convert_netcdf4.sh or h5repack)")
            }
          case c => fail(s"v4 data layout class $c")
        }
        case v => fail(s"data layout message v$v")
      }
    }

    private def parseFilters(body: Int): Seq[Filter] = {
      val ver = u8(body)
      val n = u8(body + 1)
      var q = body + (if (ver == 1) 8 else 2)
      (0 until n).map { _ =>
        val id = u16(q)
        val nameLen =
          if (ver == 1 || id >= 256) { val v = u16(q + 2); q += 4; v }
          else { q += 2; 0 }
        val flags = u16(q)
        val nv = u16(q + 2)
        q += 4 + nameLen
        if (ver == 1 && nameLen % 8 != 0) q += 8 - nameLen % 8
        val values = (0 until nv).map(i => u32(q + i * 4).toInt)
        q += nv * 4
        if (ver == 1 && nv % 2 == 1) q += 4
        Filter(id, flags, values)
      }
    }

    // ---- attributes ----

    private def pad8(n: Int): Int = (n + 7) / 8 * 8

    private def parseAttribute(body: Int): (String, Any) = {
      val ver = u8(body)
      val nameSize = u16(body + 2)
      val dtSize = u16(body + 4)
      val dsSize = u16(body + 6)
      var q = body + 8
      if (ver == 3) q += 1 // name character set
      else if (ver == 2) ()
      else require(ver == 1, s"attribute message version $ver")
      val name = new String(bytes, q, nameSize, "UTF-8").takeWhile(_ != 0)
      val (dtOff, dsOff, dataOff) =
        if (ver == 1)
          (q + pad8(nameSize), q + pad8(nameSize) + pad8(dtSize),
            q + pad8(nameSize) + pad8(dtSize) + pad8(dsSize))
        else (q + nameSize, q + nameSize + dtSize, q + nameSize + dtSize + dsSize)
      val (dt, _) = parseDatatype(dtOff)
      val n = parseDataspace(dsOff) match {
        case Nil => 1L // scalar dataspace (rank 0)
        case dims => dims.product
      }
      (name, decodeAttrValue(dt, dataOff, n.toInt))
    }

    private def decodeAttrValue(dt: Dtype, off: Int, n: Int): Any = dt.clazz match {
      case 3 => // fixed string (netCDF text attribute)
        new String(bytes, off, dt.size * n, "UTF-8").takeWhile(_ != 0)
      case 0 | 1 =>
        (0 until n).map(i => numericAt(dt, off + i * dt.size))
      case 7 =>
        (0 until n).map(i => i64(off + i * dt.size))
      case 9 =>
        // vlen datum: length(4), gheap collection addr(O), object index(4)
        (0 until n).map { i =>
          val p = off + i * 16
          val len = u32(p).toInt
          val gaddr = i64(p + 4)
          val gidx = u32(p + 12).toInt
          val obj = globalHeapObject(gaddr, gidx)
          val base = dt.base.get
          if (dt.vlenIsString) new String(bytes, obj, len, "UTF-8")
          else if (base.clazz == 7) (0 until len).map(j => i64(obj + j * 8))
          else (0 until len).map(j => numericAt(base, obj + j * base.size))
        }
      case c => fail(s"attribute datatype class $c")
    }

    /** Offset of global heap object `idx`'s data within collection at
      * `addr`. */
    private def globalHeapObject(addr: Long, idx: Int): Int = {
      val p = addr.toInt
      require(u8(p) == 'G' && u8(p + 1) == 'C' && u8(p + 2) == 'O' && u8(p + 3) == 'L',
        s"expected global heap (GCOL) at $addr")
      val end = p + i64(p + 8).toInt
      var q = p + 16
      while (q < end) {
        val objIdx = u16(q)
        val objSize = i64(q + 8)
        if (objIdx == idx) return q + 16
        if (objIdx == 0) q = end // free space: rest of collection
        else q += 16 + pad8(objSize.toInt)
      }
      sys.error(s"global heap object $idx not found in collection at $addr")
    }

    private def numericAt(dt: Dtype, p: Int): Double = {
      val o = if (dt.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
      val b = bb.duplicate().order(o)
      dt.clazz match {
        case 1 => if (dt.size == 4) b.getFloat(p).toDouble
          else if (dt.size == 8) b.getDouble(p)
          else fail(s"float size ${dt.size}")
        case 0 => dt.size match {
          case 1 => if (dt.signed) b.get(p).toDouble else (b.get(p) & 0xff).toDouble
          case 2 => if (dt.signed) b.getShort(p).toDouble else (b.getShort(p) & 0xffff).toDouble
          case 4 => if (dt.signed) b.getInt(p).toDouble else (b.getInt(p) & 0xffffffffL).toDouble
          case 8 => b.getLong(p).toDouble // uint64 beyond 2^63 not expected
          case s => fail(s"fixed-point size $s")
        }
        case c => fail(s"numeric decode of datatype class $c")
      }
    }

    // ---- raw data ----

    /** Dense row-major decode of a dataset's elements as doubles. */
    def readDoubles(ds: Dataset): Array[Double] = {
      val total = ds.shape.product
      require(total <= 50000000L,
        s"dataset '${ds.name}' has $total elements — this is a driver-side " +
          "ingest seam for modest rasters; convert bigger files once " +
          "(tools/convert_netcdf4.sh) and land parquet")
      val n = total.toInt
      val out = new Array[Double](math.max(n, if (ds.shape.isEmpty) 1 else n))
      ds.layout match {
        case Compact(data) =>
          val local = ByteBuffer.wrap(data)
            .order(if (ds.dtype.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
          decodeInto(local, ds.dtype, out, 0, out.length)
        case Contiguous(addr, _) =>
          if (addr == Undef) sys.error(s"dataset '${ds.name}' has no allocated storage")
          var i = 0
          while (i < out.length) {
            out(i) = numericAt(ds.dtype, addr.toInt + i * ds.dtype.size)
            i += 1
          }
        case Chunked(btree, chunkDimsWithElem) =>
          val chunkDims = chunkDimsWithElem.dropRight(1)
          require(chunkDims.size == ds.shape.size,
            s"chunk rank ${chunkDims.size} != dataspace rank ${ds.shape.size}")
          if (btree != Undef)
            walkChunks(btree.toInt, ds, chunkDims)(out)
        case ChunkedSingle(addr, dimsRaw, fsize, fmask) =>
          if (addr != Undef) {
            val chunkDims = normChunkDims(dimsRaw, ds)
            val sz = if (fsize >= 0) fsize.toInt
                     else chunkDims.product * ds.dtype.size
            val raw = java.util.Arrays.copyOfRange(bytes, addr.toInt,
              addr.toInt + sz)
            val data = if (fsize >= 0) defilter(raw, ds.filters, fmask, ds.dtype.size)
                       else raw
            scatterChunk(data, ds, chunkDims, chunkDims.map(_ => 0L), out)
          }
        case ChunkedImplicit(addr, dimsRaw) =>
          if (addr != Undef) {
            val chunkDims = normChunkDims(dimsRaw, ds)
            val chunkBytes = chunkDims.product * ds.dtype.size
            val grid = chunkGrid(ds, chunkDims)
            (0 until grid.product).foreach { ci =>
              val start = addr.toInt + ci * chunkBytes
              val raw = java.util.Arrays.copyOfRange(bytes, start,
                start + chunkBytes)
              scatterChunk(raw, ds, chunkDims, chunkOrigin(ci, grid, chunkDims), out)
            }
          }
        case ChunkedFixedArray(addr, dimsRaw) =>
          if (addr != Undef) {
            val chunkDims = normChunkDims(dimsRaw, ds)
            val p = checkSig(addr, "FAHD", "fixed array header")
            val clientId = u8(p + 5) // 0 chunks, 1 filtered chunks
            val entrySize = u8(p + 6)
            val pageBits = u8(p + 7)
            val maxEntries = i64(p + 8)
            val dbAddr = i64(p + 16)
            if (maxEntries > (1L << pageBits))
              fail("paged fixed-array chunk index")
            val dp = checkSig(dbAddr, "FADB", "fixed array data block")
            val elems = dp + 4 + 1 + 1 + 8 // sig, version, client, hdr addr
            val grid = chunkGrid(ds, chunkDims)
            val chunkBytes = chunkDims.product * ds.dtype.size
            require(grid.product <= maxEntries,
              s"chunk grid ${grid.product} exceeds fixed-array capacity $maxEntries")
            (0 until grid.product).foreach { ci =>
              val e = elems + ci * entrySize
              val caddr = i64(e)
              if (caddr != Undef && caddr != 0L) {
                val data =
                  if (clientId == 1) {
                    // entry: address, chunk size (entrySize-12 bytes), mask
                    val szBytes = entrySize - 8 - 4
                    var sz = 0L
                    (0 until szBytes).foreach { i =>
                      sz |= (bytes(e + 8 + i) & 0xffL) << (8 * i)
                    }
                    val mask = u32(e + 8 + szBytes).toInt
                    val raw = java.util.Arrays.copyOfRange(bytes, caddr.toInt,
                      caddr.toInt + sz.toInt)
                    defilter(raw, ds.filters, mask, ds.dtype.size)
                  } else java.util.Arrays.copyOfRange(bytes, caddr.toInt,
                    caddr.toInt + chunkBytes)
                scatterChunk(data, ds, chunkDims, chunkOrigin(ci, grid, chunkDims), out)
              }
            }
          }
      }
      out
    }

    /** Chunks per dimension (ceil division). */
    private def chunkGrid(ds: Dataset, chunkDims: Seq[Int]): Seq[Int] =
      ds.shape.zip(chunkDims).map { case (s, c) => ((s + c - 1) / c).toInt }

    /** Element origin of the row-major `ci`-th chunk of the grid. */
    private def chunkOrigin(ci: Int, grid: Seq[Int], chunkDims: Seq[Int]): Seq[Long] = {
      var rem = ci
      val origin = new Array[Long](grid.size)
      grid.indices.reverse.foreach { d =>
        origin(d) = (rem % grid(d)).toLong * chunkDims(d)
        rem /= grid(d)
      }
      origin.toSeq
    }

    /** v4 chunk dims may or may not carry the trailing element-size
      * entry (the v3 convention); resolve against the dataspace rank so
      * either encoding decodes. */
    private def normChunkDims(dims: Seq[Int], ds: Dataset): Seq[Int] = {
      val d = if (dims.size == ds.shape.size + 1) dims.dropRight(1) else dims
      require(d.size == ds.shape.size,
        s"chunk rank ${d.size} != dataspace rank ${ds.shape.size}")
      d
    }

    private def walkChunks(p: Int, ds: Dataset, chunkDims: Seq[Int])
                          (out: Array[Double]): Unit = {
      require(u8(p) == 'T' && u8(p + 1) == 'R' && u8(p + 2) == 'E' && u8(p + 3) == 'E',
        s"expected v1 chunk B-tree (TREE) at $p")
      require(u8(p + 4) == 1, "B-tree node type != raw data chunk")
      val level = u8(p + 5)
      val nUsed = u16(p + 6)
      val keySize = 8 + 8 * (chunkDims.size + 1) // size+mask then rank+1 offsets
      var q = p + 8 + 16
      (0 until nUsed).foreach { _ =>
        val chunkBytes = u32(q).toInt
        val filterMask = u32(q + 4).toInt
        val offsets = chunkDims.indices.map(i => i64(q + 8 + i * 8))
        q += keySize
        val child = i64(q); q += 8
        if (level > 0) walkChunks(child.toInt, ds, chunkDims)(out)
        else {
          val raw = java.util.Arrays.copyOfRange(bytes, child.toInt,
            child.toInt + chunkBytes)
          val data = defilter(raw, ds.filters, filterMask, ds.dtype.size)
          scatterChunk(data, ds, chunkDims, offsets, out)
        }
      }
    }

    /** Apply the filter pipeline's inverses in reverse order. */
    private def defilter(raw: Array[Byte], filters: Seq[Filter],
                         mask: Int, elemSize: Int): Array[Byte] = {
      var data = raw
      filters.zipWithIndex.reverse.foreach { case (f, i) =>
        if ((mask & (1 << i)) == 0) f.id match {
          case 1 => // deflate
            val inf = new java.util.zip.Inflater()
            inf.setInput(data)
            val buf = new java.io.ByteArrayOutputStream(data.length * 4)
            val tmp = new Array[Byte](8192)
            while (!inf.finished()) {
              val k = inf.inflate(tmp)
              if (k == 0 && inf.needsInput()) sys.error("truncated deflate chunk")
              buf.write(tmp, 0, k)
            }
            inf.end()
            data = buf.toByteArray
          case 2 => // shuffle: de-interleave elemSize byte planes
            val sz = f.values.headOption.getOrElse(elemSize)
            val n = data.length / sz
            val outB = new Array[Byte](data.length)
            var j = 0
            while (j < sz) {
              var k = 0
              while (k < n) { outB(k * sz + j) = data(j * n + k); k += 1 }
              j += 1
            }
            data = outB
          case 3 => // fletcher32: strip the trailing 4-byte checksum
            data = java.util.Arrays.copyOfRange(data, 0, data.length - 4)
          case id => fail(s"filter id $id")
        }
      }
      data
    }

    /** Copy one decoded chunk into the dense output, clipping overhang. */
    private def scatterChunk(data: Array[Byte], ds: Dataset, chunkDims: Seq[Int],
                             offsets: Seq[Long], out: Array[Double]): Unit = {
      val local = ByteBuffer.wrap(data)
        .order(if (ds.dtype.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
      val rank = chunkDims.size
      val shape = ds.shape
      val chunkElems = chunkDims.product
      val idx = new Array[Long](rank)
      var li = 0
      while (li < chunkElems) {
        var rem = li
        var d = rank - 1
        while (d >= 0) { idx(d) = rem % chunkDims(d); rem /= chunkDims(d); d -= 1 }
        var inside = true
        var gi = 0L
        d = 0
        while (d < rank) {
          val g = offsets(d) + idx(d)
          if (g >= shape(d)) inside = false
          gi = gi * shape(d) + g
          d += 1
        }
        if (inside) out(gi.toInt) = decodeOne(local, ds.dtype, li)
        li += 1
      }
    }

    private def decodeOne(b: ByteBuffer, dt: Dtype, i: Int): Double = dt.clazz match {
      case 1 => if (dt.size == 4) b.getFloat(i * 4).toDouble else b.getDouble(i * 8)
      case 0 => dt.size match {
        case 1 => if (dt.signed) b.get(i).toDouble else (b.get(i) & 0xff).toDouble
        case 2 => if (dt.signed) b.getShort(i * 2).toDouble
          else (b.getShort(i * 2) & 0xffff).toDouble
        case 4 => if (dt.signed) b.getInt(i * 4).toDouble
          else (b.getInt(i * 4) & 0xffffffffL).toDouble
        case 8 => b.getLong(i * 8).toDouble
        case s => fail(s"fixed-point size $s")
      }
      case c => fail(s"data decode of datatype class $c")
    }

    private def decodeInto(b: ByteBuffer, dt: Dtype, out: Array[Double],
                           from: Int, n: Int): Unit = {
      var i = 0
      while (i < n) { out(from + i) = decodeOne(b, dt, i); i += 1 }
    }
  }

  /** Test hook: parse + dense decode by dataset name (the Parser itself
    * stays private). */
  final class TestReader(bytes: Array[Byte]) {
    private val parser = new Parser(bytes)
    private val file = parser.parse()
    def readDoubles(name: String): Array[Double] = parser.readDoubles(file(name))
  }

  // ---- netCDF-4 semantics ---------------------------------------------

  /** A dimension scale that is ALSO a real variable carries coordinate
    * values; pure dimensions get the sentinel NAME prefix. */
  private def isPhonyDim(d: Dataset): Boolean =
    d.attrs.get("NAME") match {
      case Some(s: String) => s.startsWith("This is a netCDF dimension")
      case _ => false
    }

  private def firstNum(a: Any): Option[Double] = a match {
    case s: Seq[_] => s.headOption.collect { case d: Double => d }
    case _ => None
  }

  /** NetCDF-4 twin of [[NetCdf.readVars]]: same long layout, same CF
    * packing/fill conventions, driver-side. Dimension names resolve
    * through DIMENSION_LIST object references; coordinate columns come
    * from the referenced dimension-scale dataset's own values (ERA5's
    * time/latitude/longitude are exactly that). */
  def readVars(spark: org.apache.spark.sql.SparkSession, path: String,
               varNames: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(varNames.nonEmpty, "select at least one variable")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val parser = new Parser(bytes)
    val file = parser.parse()
    val vs = varNames.map(file(_))
    require(vs.forall(_.shape == vs.head.shape),
      s"variables must share one shape; got ${vs.map(v => v.name -> v.shape)}")
    val shape = vs.head.shape
    val total = shape.product
    require(total <= 10000000L,
      s"$total rows — driver-side ingest is for modest rasters; convert bigger files once")
    // resolve dim datasets per axis via DIMENSION_LIST refs (head ref per
    // axis); fall back to positional names when absent
    val dimDatasets: Seq[Option[Dataset]] = vs.head.attrs.get("DIMENSION_LIST") match {
      case Some(refLists: Seq[_]) =>
        refLists.map {
          case refs: Seq[_] => refs.headOption.flatMap {
            case a: Long => file.byAddr.get(a)
            case _ => None
          }
          case _ => None
        }
      case _ => shape.indices.map(_ => None)
    }
    val dimNames = dimDatasets.zipWithIndex.map {
      case (Some(d), _) => d.name.stripPrefix("/").split('/').last
      case (None, i) => s"dim_$i"
    }
    val coords: Seq[Option[Array[Double]]] = dimDatasets.map {
      case Some(d) if !isPhonyDim(d) && (d.dtype.clazz == 0 || d.dtype.clazz == 1) =>
        Some(parser.readDoubles(d))
      case _ => None
    }
    def unpack(d: Dataset, raw: Array[Double]): Array[java.lang.Double] = {
      val scale = d.attrs.get("scale_factor").flatMap(firstNum).getOrElse(1.0)
      val offset = d.attrs.get("add_offset").flatMap(firstNum).getOrElse(0.0)
      val fill = d.attrs.get("_FillValue").flatMap(firstNum)
        .orElse(d.attrs.get("missing_value").flatMap(firstNum))
      raw.map { x =>
        if (fill.contains(x)) null
        else Double.box(x * scale + offset)
      }
    }
    val cols = vs.map(v => unpack(v, parser.readDoubles(v)))
    val schema = StructType(
      dimNames.zip(coords).map { case (n, c) =>
        StructField(n, if (c.isDefined) DoubleType else LongType, nullable = true)
      } ++ vs.map(v =>
        StructField(v.name.stripPrefix("/").split('/').last, DoubleType,
          nullable = true)))
    val rows = new java.util.ArrayList[Row](total.toInt)
    val idx = new Array[Long](shape.size)
    var li = 0L
    while (li < total) {
      var rem = li
      var d = shape.size - 1
      while (d >= 0) { idx(d) = rem % shape(d); rem /= shape(d); d -= 1 }
      val dimVals = shape.indices.map { i =>
        coords(i) match {
          case Some(c) => Double.box(c(idx(i).toInt))
          case None => Long.box(idx(i))
        }
      }
      rows.add(Row.fromSeq(dimVals ++ cols.map(_(li.toInt))))
      li += 1
    }
    spark.createDataFrame(rows, schema)
  }
}
