package graft.raquet

/** Minimal Zarr v2 store writer — the fixture/round-trip twin of
  * [[Hdf5Writer]]: a flat xarray-style group with `lat`/`lon`(/`time`)
  * coordinate arrays and one `(time, lat, lon)` float32 data variable,
  * written with `.zgroup`/`.zarray`/`.zattrs` plus consolidated
  * `.zmetadata` (so the remote-store read path is exercisable too).
  *
  * Per-array compressors cover the whole read matrix: `"blosc"` (lz4 +
  * byte-shuffle via [[Blosc.compress]] — the numcodecs default), `"zlib"`,
  * `"gzip"`, `"raw"` (compressor null). */
object ZarrWriter {

  private def deflate(data: Array[Byte], gzip: Boolean): Array[Byte] =
    if (gzip) {
      val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(data); gz.close()
      bos.toByteArray
    } else {
      val d = new java.util.zip.Deflater(6)
      d.setInput(data); d.finish()
      val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
      val tmp = new Array[Byte](64 << 10)
      while (!d.finished()) bos.write(tmp, 0, d.deflate(tmp))
      d.end()
      bos.toByteArray
    }

  private def encodeChunk(data: Array[Byte], comp: String, typesize: Int): Array[Byte] =
    comp match {
      case "blosc" => Blosc.compress(data, typesize, shuffle = true)
      case "zlib" => deflate(data, gzip = false)
      case "gzip" => deflate(data, gzip = true)
      case "raw" => data
      case c => throw new IllegalArgumentException(s"unknown fixture compressor '$c'")
    }

  private def compressorJson(comp: String): String = comp match {
    case "blosc" => """{"id":"blosc","cname":"lz4","clevel":5,"shuffle":1,"blocksize":0}"""
    case "zlib" => """{"id":"zlib","level":6}"""
    case "gzip" => """{"id":"gzip","level":6}"""
    case "raw" => "null"
  }

  private def put(root: java.nio.file.Path, key: String, bytes: Array[Byte]): Unit = {
    val p = root.resolve(key)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, bytes)
  }
  private def putS(root: java.nio.file.Path, key: String, s: String): Unit =
    put(root, key, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Write the store; returns the per-file key → embedded-JSON pairs that
    * went into `.zmetadata` (handy for specs). */
  def write(path: String, lats: Array[Double], lons: Array[Double],
      times: Array[Double], timeUnits: String, fill: Float,
      value: (Int, Int, Int) => Float,
      chunkY: Int = 0, chunkX: Int = 0,
      dataComp: String = "blosc", coordComp: String = "zlib",
      varName: String = "band", dimSeparator: String = ".",
      consolidate: Boolean = true, dataFilter: String = "none"): Unit = {
    val ny = lats.length; val nx = lons.length
    val cy = if (chunkY > 0) chunkY else ny
    val cx = if (chunkX > 0) chunkX else nx
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(root)

    val meta = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def record(key: String, jsonStr: String): Unit = {
      putS(root, key, jsonStr); meta(key) = jsonStr
    }

    record(".zgroup", """{"zarr_format":2}""")
    writeBody(root, record, lats, lons, times, timeUnits, fill, value,
      cy, cx, dataComp, coordComp, varName, dimSeparator, dataFilter)

    if (consolidate) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val entries = meta.map { case (k, v) =>
        s""""${k}": ${v}"""
      }.mkString(",")
      val doc = s"""{"zarr_consolidated_format":1,"metadata":{$entries}}"""
      mapper.readTree(doc) // self-check: the writer must emit valid JSON
      putS(root, ".zmetadata", doc)
    }
  }

  private def writeBody(root: java.nio.file.Path,
      record: (String, String) => Unit,
      lats: Array[Double], lons: Array[Double],
      times: Array[Double], timeUnits: String, fill: Float,
      value: (Int, Int, Int) => Float, cy: Int, cx: Int,
      dataComp: String, coordComp: String, varName: String,
      dimSeparator: String, dataFilter: String): Unit = {
    val ny = lats.length; val nx = lons.length; val nt = times.length

    def coordArray(name: String, vals: Array[Double], attrs: String): Unit = {
      record(s"$name/.zarray",
        s"""{"zarr_format":2,"shape":[${vals.length}],"chunks":[${vals.length}],""" +
          s""""dtype":"<f8","compressor":${compressorJson(coordComp)},""" +
          """"fill_value":null,"order":"C","filters":null}""")
      record(s"$name/.zattrs", attrs)
      val bb = java.nio.ByteBuffer.allocate(8 * vals.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putDouble)
      put(root, s"$name/0", encodeChunk(bb.array(), coordComp, 8))
    }
    coordArray("lat", lats,
      """{"_ARRAY_DIMENSIONS":["lat"],"units":"degrees_north"}""")
    coordArray("lon", lons,
      """{"_ARRAY_DIMENSIONS":["lon"],"units":"degrees_east"}""")
    coordArray("time", times,
      s"""{"_ARRAY_DIMENSIONS":["time"],"units":"$timeUnits","calendar":"standard"}""")

    // numcodecs filter JSON + encode-side transform for the data array
    val filtersJson = dataFilter match {
      case "none" => "null"
      case "delta" => """[{"id":"delta","dtype":"<f4","astype":"<f4"}]"""
      case "fixedscaleoffset" =>
        """[{"id":"fixedscaleoffset","offset":0.0,"scale":1.0,""" +
          """"dtype":"<f4","astype":"<i4"}]"""
      case other => throw new IllegalArgumentException(s"data filter '$other'")
    }
    def applyFilter(raw: Array[Byte]): (Array[Byte], Int) = dataFilter match {
      case "none" => (raw, 4)
      case "delta" =>
        val bb = java.nio.ByteBuffer.wrap(raw)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val n = raw.length / 4
        val outB = java.nio.ByteBuffer.allocate(raw.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var prev = 0f
        for (k <- 0 until n) {
          val x = bb.getFloat(4 * k)
          outB.putFloat(if (k == 0) x else x - prev)
          prev = x
        }
        (outB.array(), 4)
      case "fixedscaleoffset" =>
        val bb = java.nio.ByteBuffer.wrap(raw)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val n = raw.length / 4
        val outB = java.nio.ByteBuffer.allocate(4 * n)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        for (k <- 0 until n)
          outB.putInt(math.round(bb.getFloat(4 * k)))
        (outB.array(), 4)
    }
    record(s"$varName/.zarray",
      s"""{"zarr_format":2,"shape":[$nt,$ny,$nx],"chunks":[1,$cy,$cx],""" +
        s""""dtype":"<f4","compressor":${compressorJson(dataComp)},""" +
        s""""fill_value":"NaN","order":"C","filters":$filtersJson""" +
        (if (dimSeparator != ".") s""","dimension_separator":"$dimSeparator"""" else "") +
        "}")
    record(s"$varName/.zattrs",
      s"""{"_ARRAY_DIMENSIONS":["time","lat","lon"],"_FillValue":$fill}""")

    val ncy = (ny + cy - 1) / cy
    val ncx = (nx + cx - 1) / cx
    for (t <- 0 until nt; jc <- 0 until ncy; ic <- 0 until ncx) {
      // v2 edge chunks are stored full-size, padded with fill
      val bb = java.nio.ByteBuffer.allocate(4 * cy * cx)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var j = 0
      while (j < cy) {
        var i = 0
        while (i < cx) {
          val gj = jc * cy + j; val gi = ic * cx + i
          bb.putFloat(if (gj < ny && gi < nx) value(t, gj, gi) else Float.NaN)
          i += 1
        }
        j += 1
      }
      val (filtered, ts) = applyFilter(bb.array())
      put(root, s"$varName/$t$dimSeparator$jc$dimSeparator$ic",
        encodeChunk(filtered, dataComp, ts))
    }
  }

  // ----------------------------------------------------------------- v3

  private def codecsJson(comp: String, typesize: Int): String = {
    val bytes = """{"name":"bytes","configuration":{"endian":"little"}}"""
    comp match {
      case "blosc" => bytes + "," +
        s"""{"name":"blosc","configuration":{"cname":"lz4","clevel":5,""" +
        s""""shuffle":"shuffle","typesize":$typesize,"blocksize":0}}"""
      case "gzip" => bytes + "," + """{"name":"gzip","configuration":{"level":6}}"""
      case "raw" => bytes
      case c => throw new IllegalArgumentException(s"v3 fixture compressor '$c'")
    }
  }

  /** v3 twin of [[write]]: root `zarr.json` group (with zarr-python's
    * `consolidated_metadata` when asked), per-array `zarr.json`, chunk
    * keys under the default `c/`-prefixed encoding. Compressors here are
    * v3 codec chains: `"blosc"`, `"gzip"`, `"raw"` (bytes only). */
  def writeV3(path: String, lats: Array[Double], lons: Array[Double],
      times: Array[Double], timeUnits: String, fill: Float,
      value: (Int, Int, Int) => Float,
      chunkY: Int = 0, chunkX: Int = 0,
      dataComp: String = "blosc", coordComp: String = "gzip",
      varName: String = "band", consolidate: Boolean = true,
      shard: Boolean = false): Unit = {
    val ny = lats.length; val nx = lons.length; val nt = times.length
    val cy = if (chunkY > 0) chunkY else ny
    val cx = if (chunkX > 0) chunkX else nx
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(root)
    val arrays = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def arrayJson(shape: Seq[Long], chunks: Seq[Int], dtype: String,
        comp: String, typesize: Int, fillJson: String, attrs: String,
        codecsOverride: Option[String] = None): String =
      s"""{"zarr_format":3,"node_type":"array","shape":[${shape.mkString(",")}],""" +
        s""""data_type":"$dtype","chunk_grid":{"name":"regular",""" +
        s""""configuration":{"chunk_shape":[${chunks.mkString(",")}]}},""" +
        """"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
        s""""fill_value":$fillJson,""" +
        s""""codecs":[${codecsOverride.getOrElse(codecsJson(comp, typesize))}],""" +
        s""""attributes":$attrs,"dimension_names":null}"""

    def coord(name: String, vals: Array[Double], attrs: String): Unit = {
      val aj = arrayJson(Seq(vals.length.toLong), Seq(vals.length), "float64",
        coordComp, 8, "0.0", attrs)
      putS(root, s"$name/zarr.json", aj); arrays(name) = aj
      val bb = java.nio.ByteBuffer.allocate(8 * vals.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putDouble)
      put(root, s"$name/c/0", encodeChunk(bb.array(), coordComp, 8))
    }
    coord("lat", lats, """{"units":"degrees_north"}""")
    coord("lon", lons, """{"units":"degrees_east"}""")
    coord("time", times,
      s"""{"units":"$timeUnits","calendar":"standard"}""")

    val shardCodecs =
      s"""{"name":"sharding_indexed","configuration":{""" +
        s""""chunk_shape":[1,$cy,$cx],"codecs":[${codecsJson(dataComp, 4)}],""" +
        """"index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},""" +
        """{"name":"crc32c"}],"index_location":"end"}}"""
    val dj = arrayJson(Seq(nt.toLong, ny.toLong, nx.toLong),
      if (shard) Seq(1, ny, nx) else Seq(1, cy, cx),
      "float32", dataComp, 4, "\"NaN\"",
      s"""{"_FillValue":$fill}""",
      codecsOverride = if (shard) Some(shardCodecs) else None)
    putS(root, s"$varName/zarr.json", dj); arrays(varName) = dj

    if (shard) require(ny % cy == 0 && nx % cx == 0,
      s"sharded fixture needs inner ($cy,$cx) dividing ($ny,$nx)")
    val ncy = (ny + cy - 1) / cy
    val ncx = (nx + cx - 1) / cx
    def innerBytes(t: Int, jc: Int, ic: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 * cy * cx)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var j = 0
      while (j < cy) {
        var i = 0
        while (i < cx) {
          val gj = jc * cy + j; val gi = ic * cx + i
          bb.putFloat(if (gj < ny && gi < nx) value(t, gj, gi) else Float.NaN)
          i += 1
        }
        j += 1
      }
      bb.array()
    }
    if (!shard) {
      for (t <- 0 until nt; jc <- 0 until ncy; ic <- 0 until ncx)
        put(root, s"$varName/c/$t/$jc/$ic",
          encodeChunk(innerBytes(t, jc, ic), dataComp, 4))
    } else {
      // one shard per timestep: encoded inner chunks back to back, then
      // the (offset, nbytes) uint64 index + CRC-32C, index at the end.
      // Inner chunks whose floats are ALL NaN (the fill) are left absent
      // — (2^64−1, 2^64−1) entries — like zarr's write_empty_chunks=False.
      for (t <- 0 until nt) {
        val body = new java.io.ByteArrayOutputStream()
        val idx = java.nio.ByteBuffer.allocate(16 * ncy * ncx)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        for (jc <- 0 until ncy; ic <- 0 until ncx) {
          val raw = innerBytes(t, jc, ic)
          val fb = java.nio.ByteBuffer.wrap(raw)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val allFill = (0 until cy * cx).forall(k => fb.getFloat(4 * k).isNaN)
          if (allFill) { idx.putLong(-1L); idx.putLong(-1L) }
          else {
            val enc = encodeChunk(raw, dataComp, 4)
            idx.putLong(body.size().toLong); idx.putLong(enc.length.toLong)
            body.write(enc)
          }
        }
        val crc = new java.util.zip.CRC32C()
        crc.update(idx.array())
        val c = crc.getValue
        body.write(idx.array())
        body.write(Array[Byte](c.toByte, (c >> 8).toByte, (c >> 16).toByte,
          (c >> 24).toByte))
        put(root, s"$varName/c/$t/0/0", body.toByteArray)
      }
    }

    val cons =
      if (!consolidate) ""
      else {
        val entries = arrays.map { case (k, v) => s""""$k": $v""" }.mkString(",")
        s""","consolidated_metadata":{"kind":"inline","must_understand":false,""" +
          s""""metadata":{$entries}}"""
      }
    val doc = s"""{"zarr_format":3,"node_type":"group","attributes":{}$cons}"""
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(doc) // validity self-check
    putS(root, "zarr.json", doc)
  }
}
