"""Point lookups over tile-keyed tables (P3, the serve-tool analog).

The reference's `rs serve` is a single-threaded Flask proof of concept
(/root/reference/robosat/tools/serve.py:24-34) doing fetch->segment->PNG
per /z/x/y request. The batch engine's analog is a keyed point lookup: on a
slippy-layout dataset (partitioned by z, x — sources.sinks.write_slippy_grids)
the filter prunes to one directory partition and reads one footer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tile(grids: DataFrame, z: int, x: int, y: int) -> DataFrame:
    return grids.filter((F.col("z") == z) & (F.col("x") == x) & (F.col("y") == y)).limit(1)


def lookup_tile(grids: DataFrame, z: int, x: int, y: int):
    """-> the (w, h, data) row for one tile, or None. Partition-pruned on
    z/x when the dataset is written with the slippy layout."""
    rows = _tile(grids, z, x, y).select("w", "h", "data").collect()
    return rows[0] if rows else None


def serve_tile_png(
    grids: DataFrame, z: int, x: int, y: int, palette: list[int] | None = None
) -> bytes | None:
    """The full `rs serve` response analog: partition-pruned lookup ->
    palette PNG bytes (serve.py:50-69 returns send_file(png); here the
    bytes come from the from-scratch kernels.png encoder). The tile comes
    back as Arrow and is read by the mask codec."""
    from ..kernels.png import encode_png
    from .rasterize import decode_masks

    tile = decode_masks(_tile(grids, z, x, y).select("z", "x", "y", "w", "h", "data").toArrow())
    return encode_png(tile[0][3], palette=palette) if tile else None


def preview_page(tile_url: str = "/{z}/{x}/{y}.png", center=(0.0, 0.0), zoom: int = 12) -> str:
    """Map preview HTML for ``GET /`` — parity with the reference's viewer
    (robosat/tools/serve.py:45-47 renders templates/map.html, a
    mapbox-gl-js compare page over the /z/x/y.png layer). This engine's
    preview is a minimal Leaflet page (public Leaflet API; no access token
    needed) with the served mask tiles as a raster overlay on OSM."""
    lat, lon = center
    return f"""<!DOCTYPE html>
<html>
<head>
  <meta charset="utf-8"/>
  <title>robosat_spark serve</title>
  <meta name="viewport" content="initial-scale=1,maximum-scale=1,user-scalable=no"/>
  <link rel="stylesheet" href="https://unpkg.com/leaflet@1.9.4/dist/leaflet.css"/>
  <script src="https://unpkg.com/leaflet@1.9.4/dist/leaflet.js"></script>
  <style>html, body, #map {{ margin: 0; height: 100%; }}</style>
</head>
<body>
<div id="map"></div>
<script>
  var map = L.map('map').setView([{lat!r}, {lon!r}], {zoom});
  L.tileLayer('https://tile.openstreetmap.org/{{z}}/{{x}}/{{y}}.png',
              {{maxZoom: 19, attribution: '&copy; OpenStreetMap'}}).addTo(map);
  L.tileLayer('{tile_url}', {{maxZoom: 19, opacity: 0.6}}).addTo(map);
</script>
</body>
</html>"""


def make_tile_server(grids: DataFrame, host: str = "127.0.0.1", port: int = 5000,
                     palette: list[int] | None = None, center=(0.0, 0.0),
                     zoom: int = 12):
    """-> stdlib ``http.server.HTTPServer`` answering ``GET /z/x/y.png``
    with partition-pruned lookups and ``GET /`` with the map preview page
    — the full `rs serve` analog (/root/reference/robosat/tools/serve.py:
    24-69 is a single-threaded Flask handler + templates/map.html viewer;
    this is the same proof-of-concept shape without the Flask dependency).
    Caller runs ``serve_forever()`` (CLI) or ``handle_request()`` in a
    thread (tests)."""
    import re
    from http.server import BaseHTTPRequestHandler, HTTPServer

    route = re.compile(r"^/(\d+)/(\d+)/(\d+)\.png$")
    page = preview_page(center=center, zoom=zoom).encode("utf-8")

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API name)
            if self.path in ("/", "/index.html"):
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(page)))
                self.end_headers()
                self.wfile.write(page)
                return
            m = route.match(self.path)
            png = None
            if m:
                z, x, y = (int(g) for g in m.groups())
                png = serve_tile_png(grids, z, x, y, palette=palette)
            if png is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", "image/png")
            self.send_header("Content-Length", str(len(png)))
            self.end_headers()
            self.wfile.write(png)

        def log_message(self, *a):  # quiet test output
            pass

    return HTTPServer((host, port), Handler)
