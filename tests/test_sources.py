"""CSV source/sink parity (reference A24) — reading the reference's own CSV
files and reproducing its 17-digit dump format."""
import json
from pathlib import Path

import numpy as np

from stl_decomp_4j_spark.sources.timeseries import (
    decomposition_to_json,
    read_co2_csv,
    write_decomposition_csv,
)
from stl_decomp_4j_spark.stl import decompose

# the reference's co2.csv values and its StlPerfTest/output.csv 17-digit dump
FIXTURE = Path(__file__).parent / "fixtures" / "co2_golden.json"


def test_read_co2_and_roundtrip_17_digits(spark, tmp_path):
    fx = json.loads(FIXTURE.read_text())
    co2 = tmp_path / "co2.csv"
    # co2.csv layout; time_years is not read by the test, monthly steps
    # from 1959 stand in for it
    co2.write_text(
        "row,time_years,interpolated\n"
        + "".join(f"{i},{1959 + i / 12!r},{v!r}\n" for i, v in enumerate(fx["data"]))
    )
    df = read_co2_csv(spark, str(co2))
    pdf = df.orderBy("idx").toPandas()
    assert len(pdf) == 708
    data = pdf["value"].to_numpy()

    d = decompose(data, 12, seasonal_width=35, robust=False)
    out = tmp_path / "dump.csv"
    write_decomposition_csv(d, str(out))

    ours = out.read_text().strip().splitlines()
    golden = fx["golden"]
    assert len(ours) == len(golden)
    for line_a, vb in zip(ours, golden):
        va = [float(x) for x in line_a.split(",")]
        assert np.max(np.abs(np.array(va) - np.array(vb))) < 1.0e-11

    js = decomposition_to_json(d)
    parsed = json.loads(js)
    assert set(parsed) == {"time", "value", "seasonal", "trend", "residual", "weight"}
    assert len(parsed["value"]) == 708


def test_rest_server_serves_stl_results():
    """Engine twin of the reference demo REST server
    (examples/StlDemoRestServer/StlDemoRestServer.java:27-60): CO2
    decomposition served as StlResults JSON with CORS."""
    import json
    import threading
    import urllib.request
    from http.server import HTTPServer

    import numpy as np

    from jobs.stl_rest_server import _Handler, build_results_json

    _Handler.results_json = build_results_json()
    httpd = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=httpd.handle_request, daemon=True)
    t.start()
    with urllib.request.urlopen(f"http://127.0.0.1:{httpd.server_port}/stldemo") as resp:
        assert resp.status == 200
        assert resp.headers["Access-Control-Allow-Origin"] == "*"
        body = json.load(resp)
    t.join(timeout=5)
    httpd.server_close()
    assert set(body) == {"time", "value", "seasonal", "trend", "residual", "weight"}
    n = len(body["value"])
    assert n == 708 and all(len(body[k]) == n for k in body)
    # decomposition identity holds through the JSON surface
    arr = {k: np.array(body[k]) for k in ("value", "seasonal", "trend", "residual")}
    assert np.allclose(arr["value"], arr["seasonal"] + arr["trend"] + arr["residual"], atol=1e-9)
