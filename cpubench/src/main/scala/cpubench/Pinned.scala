package cpubench

/** Result checksums of the registry rows over the generated tables
  * (`rows:xor:sum`, see [[Registry.checksumFrame]]). A row missing here, or
  * whose result changed, fails with `<row> checksum: got <value>, ...` in
  * the run's PROBLEM lines; pin a row by copying that value here.
  */
object Pinned {
  val checksums: Map[String, String] = Map(
    "x333" -> "500:6007841744712488450:539777745508",
    "x348" -> "4:-1209014921453014717:5127171962",
    "x356" -> "1:-9017252579797444233:1626040976")
}
