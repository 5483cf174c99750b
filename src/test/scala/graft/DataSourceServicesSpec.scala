package graft

import org.apache.spark.sql.sources.DataSourceRegister
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The `META-INF/services` registry of `format(...)` short names: a stale
  * entry (a provider class deleted but still listed) would otherwise only
  * surface at the first `format(...)` lookup of ANY source, since the
  * ServiceLoader walk fails as a whole.
  */
class DataSourceServicesSpec extends AnyFunSuite {

  test("every registered DataSourceRegister instantiates and graft's " +
      "short names are unique") {
    val providers = java.util.ServiceLoader
      .load(classOf[DataSourceRegister], getClass.getClassLoader)
      .stream().iterator().asScala
      .map(p => p.`type`().getName -> p.get().shortName())
      .toSeq
    val graftOwn = providers.filter(_._1.startsWith("graft."))
    // Spark itself registers "orc" twice (hive and native, resolved by
    // its own lookup rule), so uniqueness is checked for graft's names
    val dup = graftOwn.map(_._2).filter(n => providers.count(_._2 == n) > 1)
    assert(dup.isEmpty, s"graft short names registered twice: $dup")
    assert(graftOwn ==
      Seq("graft.sources.SeriesSourceProvider" -> "rcseries"),
      s"graft's registered sources changed: $graftOwn")
  }
}
