package searchspark.index

import java.io.ByteArrayOutputStream

import searchspark.model.PostingBlock

/** Posting-block codec: docID-delta + varint encoding with per-block
  * (maxTfE1, minDl) pruning metadata (the at-rest replacement for the
  * reference's row-per-posting `index` table,
  * /root/reference/src/main/java/searchengine/model/IndexEntity.java:5-23).
  *
  * Layout per term (within one doc-range shard): postings sorted by
  * docId, cut into blocks of [[BlockSize]]; per block
  *  - docs:  varint(docId_0 − firstDocBase), varint(delta_1), …
  *  - tfs:   varint(tfE1_i)   (×10-scaled weighted tf)
  *  - dls:   varint(dlE1_i)
  *  - roles: varint(roleId_i) (scope filter at scan time)
  *  - maxTfE1 / minDl: STATS-FREE block-max inputs — the WAND bound is
  *    computed at query time from current idf/avgdl (Scoring.blockBound),
  *    so reused incremental shards and scope-local stats stay sound.
  *
  * Pure Scala, no Catalyst involvement (SURVEY.md §7.6): executed inside
  * `mapGroups` at build and decoded inside `mapPartitions` at query.
  * Round-trip identity is property-tested (CodecSpec, scalacheck).
  */
object Segments {

  val BlockSize = 128

  // --- varint (LEB128, unsigned) ---------------------------------------

  def writeVarLong(out: ByteArrayOutputStream, v0: Long): Unit = {
    require(v0 >= 0, s"varint requires non-negative, got $v0")
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  /** Decode one varint starting at `pos`; returns (value, nextPos). */
  def readVarLong(buf: Array[Byte], pos: Int): (Long, Int) = {
    var p = pos
    var shift = 0
    var v = 0L
    var b = 0
    do {
      b = buf(p) & 0xff
      v |= (b & 0x7fL) << shift
      shift += 7
      p += 1
    } while ((b & 0x80) != 0)
    (v, p)
  }

  // --- block encode/decode ---------------------------------------------

  /** Encode one term's postings (docIds ASC, equal-length tfE1s/dlE1s/
    * roleIds). No corpus stats involved — pruning metadata is the raw
    * (maxTfE1, minDl) per block. */
  def encode(docIds: Array[Long], tfsE1: Array[Int], dlsE1: Array[Long],
             roleIds: Array[Int]): Array[PostingBlock] = {
    require(docIds.length == tfsE1.length && tfsE1.length == dlsE1.length
      && dlsE1.length == roleIds.length)
    val blocks = Vector.newBuilder[PostingBlock]
    var i = 0
    while (i < docIds.length) {
      val end = math.min(i + BlockSize, docIds.length)
      val docsOut = new ByteArrayOutputStream()
      val tfsOut = new ByteArrayOutputStream()
      val dlsOut = new ByteArrayOutputStream()
      val rolesOut = new ByteArrayOutputStream()
      var prev = docIds(i)
      var maxTf = 0
      var minDl = Long.MaxValue
      var j = i
      while (j < end) {
        writeVarLong(docsOut, docIds(j) - prev)
        writeVarLong(tfsOut, tfsE1(j).toLong)
        writeVarLong(dlsOut, dlsE1(j))
        writeVarLong(rolesOut, roleIds(j).toLong)
        if (tfsE1(j) > maxTf) maxTf = tfsE1(j)
        if (dlsE1(j) < minDl) minDl = dlsE1(j)
        prev = docIds(j)
        j += 1
      }
      blocks += PostingBlock(docIds(i), docIds(end - 1), end - i, maxTf, minDl,
        docsOut.toByteArray, tfsOut.toByteArray, dlsOut.toByteArray,
        rolesOut.toByteArray)
      i = end
    }
    blocks.result().toArray
  }

  /** Decode one block to (docIds, tfE1s, dlE1s, roleIds). */
  def decodeBlock(b: PostingBlock): (Array[Long], Array[Int], Array[Long], Array[Int]) = {
    val docs = new Array[Long](b.count)
    val tfs = new Array[Int](b.count)
    val dls = new Array[Long](b.count)
    val roles = new Array[Int](b.count)
    var pd = 0
    var pt = 0
    var pl = 0
    var pr = 0
    var prev = b.firstDoc
    var i = 0
    while (i < b.count) {
      val (delta, npd) = readVarLong(b.docs, pd)
      pd = npd
      prev += delta
      docs(i) = prev
      val (tf, npt) = readVarLong(b.tfs, pt)
      pt = npt
      tfs(i) = tf.toInt
      val (dl, npl) = readVarLong(b.dls, pl)
      pl = npl
      dls(i) = dl
      val (r, npr) = readVarLong(b.roles, pr)
      pr = npr
      roles(i) = r.toInt
      i += 1
    }
    (docs, tfs, dls, roles)
  }

  /** Postings of one block whose roleId is `roleId`: a scan of the roles
    * column alone (docs, tfs and dls stay encoded). */
  def countRole(b: PostingBlock, roleId: Int): Int = {
    var n = 0
    var p = 0
    while (p < b.roles.length) {
      val (r, np) = readVarLong(b.roles, p)
      if (r == roleId) n += 1
      p = np
    }
    n
  }

  /** Decode a whole posting list to (docIds, tfE1s, dlE1s, roleIds). */
  def decodeAll(blocks: Array[PostingBlock]): (Array[Long], Array[Int], Array[Long], Array[Int]) = {
    val n = blocks.map(_.count).sum
    val docs = new Array[Long](n)
    val tfs = new Array[Int](n)
    val dls = new Array[Long](n)
    val roles = new Array[Int](n)
    var off = 0
    blocks.foreach { b =>
      val (d, t, l, r) = decodeBlock(b)
      System.arraycopy(d, 0, docs, off, d.length)
      System.arraycopy(t, 0, tfs, off, t.length)
      System.arraycopy(l, 0, dls, off, l.length)
      System.arraycopy(r, 0, roles, off, r.length)
      off += d.length
    }
    (docs, tfs, dls, roles)
  }
}
