package graft

import org.apache.hadoop.fs.{FileContext, FileSystem}

import java.net.URI

/** The one session factory: where its master comes from, that a second call
  * joins the running context, and that it installs the engine's local file
  * system. */
class EngineSpec extends SparkSpec {

  private def withMasterProperty[T](value: Option[String])(body: => T): T = {
    val prev = sys.props.get("spark.master")
    value.fold(sys.props.remove("spark.master"))(v => sys.props.put("spark.master", v))
    try body
    finally prev.fold(sys.props.remove("spark.master"))(v => sys.props.put("spark.master", v))
  }

  test("the master is the launcher's spark.master when set, else local[cores]") {
    withMasterProperty(Some("yarn"))(assert(Engine.master("4") == "yarn"))
    withMasterProperty(None)(assert(Engine.master("4") == "local[4]"))
  }

  test("a second Engine.session while the shared session is active returns the same SparkContext") {
    assert(Engine.session("graft-test", cores = "4").sparkContext eq spark.sparkContext)
  }

  test("the session's FileSystem and FileContext for file: are the engine's java.nio classes") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[NioLocalFileSystem].getRawFileSystem.isInstanceOf[NioRawLocalFileSystem])
    val fc = FileContext.getFileContext(new URI("file:///"), conf).getDefaultFileSystem
    assert(fc.isInstanceOf[NioLocalFs], fc.getClass.getName)
  }
}
