package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** GPU device-map source + inversion — the Spark re-expression of the
  * reference's HTTP JSON fetch + `invert_device_map`
  * (hardware_report.py:169-218). The environment has no network, so the map
  * ships as a packaged resource (S3 -> S4); the fetched layout is
  *
  *   vendor id -> device family -> chipset -> [device ids]
  *
  * and the consumer needs vendor+device -> (family, chipset). The map is a
  * few hundred bytes and its consumer is a literal-map lookup
  * ([[graft.hardware.HardwareReport.deviceFamilyChipset]]), so it is parsed
  * and inverted on the driver with Jackson (shipped with Spark): a
  * DataFrame inversion ran a Spark job only to collect the same map.
  */
object DeviceMap {

  def readResourceText(resource: String): String = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing resource $resource")
    try new String(in.readAllBytes(), "UTF-8")
    finally in.close()
  }

  /** Parse + invert: (family, chipset) per "vendor|device" key, ids
    * '0x'-prefixed like the reference (hardware_report.py:180-184), keyed
    * as consumed by HardwareReport.deviceFamilyChipset. */
  def lookup(resource: String = "/graft/device_map.json"): Map[String, (String, String)] = {
    val vendors = new ObjectMapper().readTree(readResourceText(resource))
    (for {
      vendor <- vendors.properties.asScala
      family <- vendor.getValue.properties.asScala
      chipset <- family.getValue.properties.asScala
      id <- chipset.getValue.asScala
    } yield s"0x${vendor.getKey}|0x${id.asText}" -> (family.getKey, chipset.getKey)).toMap
  }
}
