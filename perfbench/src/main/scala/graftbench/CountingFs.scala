package graftbench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** The local filesystem under the `benchcount` scheme, counting
  * `listStatus` calls. The ingest workload's catalog tables live under
  * it, so the listings a refresh causes are counted where they happen.
  */
class CountingFs extends RawLocalFileSystem {
  override def getScheme: String = "benchcount"
  override def getUri: URI = URI.create("benchcount:///")

  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFs.listCalls.incrementAndGet()
    super.listStatus(p)
  }
}

/** FileContext binding for the same scheme. */
class CountingAbstractFs(uri: URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new CountingFs, conf, "benchcount", false)

object CountingFs {
  val listCalls = new AtomicLong()
}
