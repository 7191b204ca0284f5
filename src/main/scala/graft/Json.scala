package graft

import java.math.RoundingMode

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The JSON writer of the Bench and Verify artifacts. Maps keep their
  * iteration order (build them as `ListMap`), `None` writes `null`.
  */
private[graft] object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(value: Any): String = mapper.writeValueAsString(value)

  /** `x` rounded half-up to `scale` places, written as a plain JSON
    * number: the same digits `f"%.${scale}f"` prints.
    */
  def fixed(x: Double, scale: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
}
