package graft.store

/** Runnable object-store service — the reference's "run as server" TODO
  * (README.md:31) made concrete: the store tier as a standalone network
  * service speaking the S3 REST dialect ([[S3DialectServer]]), with all
  * table/transaction logic living in the clients (exactly the S3
  * deployment split). Any number of [[graft.table.GraftClient]]s point
  * their `logStore` at this endpoint and the commit protocol's
  * conditional puts linearize here.
  *
  * {{{
  * sbt "runMain graft.store.StoreServer /data/graft-log 8080"
  * // clients, on the same host:
  * new GraftClient(spark, dataRoot,
  *   logStore = Some(new S3ObjectStore("http://127.0.0.1:8080")))
  * }}}
  *
  * The server binds the loopback address (127.0.0.1) only, so only
  * clients on its own host can reach it; the startup line says so.
  * Port 0 picks a free port (printed). The backing store is the
  * hard-link-atomic local-FS implementation, so durability is the
  * filesystem's; swap in any [[ObjectStore]] programmatically.
  */
object StoreServer {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: StoreServer <store-root-dir> [port (default 8080)]")
    val root = args(0)
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val server = new S3DialectServer(new LocalObjectStore(root), port)
    println(s"graft store server (loopback only): ${server.url} -> $root")
    // park the main thread; the JDK server's executor threads serve
    Thread.currentThread().join()
  }
}
