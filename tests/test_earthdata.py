"""S14/S15 Earthdata orchestration tests against a local mock server:
CMR search validation, Harmony submit/poll/download, and the full chain
into the distributed granule reader — all over real NetCDF bytes."""

from __future__ import annotations

import http.server
import json
import threading
import urllib.parse

import numpy as np
import pandas as pd
import pytest

from pm25ml_spark.sources.earthdata import (
    CmrClient,
    DatasetDescriptor,
    EarthdataError,
    HarmonyClient,
    retrieve_subset,
)
from pm25ml_spark.sources.netcdf3 import write_netcdf3

DESC = DatasetDescriptor(
    dataset_name="M2T1NXAER",
    start_date="2023-06-01",
    end_date="2023-06-02",
    version="5.12.4",
    bbox=(68.0, 6.0, 98.0, 38.0),
    variables=("t2m",),
)


def _granule_bytes(tmp_path, name):
    lons = np.arange(70.0, 80.0, 2.0)
    lats = np.arange(10.0, 22.0, 3.0)
    data = lons[None, None, :] * 0.5 + lats[None, :, None] * 0.25 + np.arange(
        3
    )[:, None, None].astype(np.float64)
    p = tmp_path / name
    write_netcdf3(
        str(p),
        dims={"time": 3, "lat": 4, "lon": 5},
        variables={
            "t2m": (("time", "lat", "lon"), data, {"units": "K"}),
            "lon": (("lon",), lons, {}),
            "lat": (("lat",), lats, {}),
            "time": (("time",), np.arange(3, dtype=np.int32), {}),
        },
    )
    return p.read_bytes()


@pytest.fixture(scope="module")
def earthdata_server(tmp_path_factory):
    """Mock CMR + Harmony: collection search, granule search, job init,
    two-phase polling (running → successful), granule download."""
    tmp = tmp_path_factory.mktemp("granules")
    files = {
        f"/files/g_{d}.nc": _granule_bytes(tmp, f"g_{d}.nc")
        for d in ("2023-06-01", "2023-06-02")
    }
    polls = {"count": 0}

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _json(self, obj, code=200):
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            url = urllib.parse.urlparse(self.path)
            q = urllib.parse.parse_qs(url.query)
            base = f"http://127.0.0.1:{self.server.server_address[1]}"
            if url.path == "/search/collections.json":
                n = {"M2T1NXAER": 1, "AMBIGUOUS": 2}.get(
                    q["short_name"][0], 0
                )
                self._json(
                    {
                        "feed": {
                            "entry": [
                                {"id": f"C{100 + i}-TEST"} for i in range(n)
                            ]
                        }
                    }
                )
            elif url.path == "/search/granules.json":
                self._json(
                    {
                        "feed": {
                            "entry": [
                                {"id": f"G{i}", "title": t}
                                for i, t in enumerate(sorted(files))
                            ]
                        }
                    }
                )
            elif "coverage/rangeset" in url.path:
                # echo the requested subsets back for assertion via jobID
                self._json({"jobID": "job-42"})
            elif url.path == "/jobs/job-42":
                polls["count"] += 1
                if polls["count"] < 3:
                    self._json(
                        {"status": "running", "progress": 40, "links": []}
                    )
                else:
                    self._json(
                        {
                            "status": "successful",
                            "progress": 100,
                            "links": [
                                {"rel": "self", "href": f"{base}/jobs/job-42"},
                                *(
                                    {"rel": "data", "href": f"{base}{p}"}
                                    for p in sorted(files)
                                ),
                            ],
                        }
                    )
            elif url.path in files:
                body = files[url.path]
                self.send_response(200)
                self.send_header("Content-Type", "application/x-netcdf")
                self.end_headers()
                self.wfile.write(body)
            else:
                self._json({"error": "not found"}, 404)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_collection_resolution_validation(earthdata_server):
    cmr = CmrClient(earthdata_server)
    assert cmr.collection_id("M2T1NXAER") == "C100-TEST"
    with pytest.raises(EarthdataError, match="No datasets"):
        cmr.collection_id("NOPE")
    with pytest.raises(EarthdataError, match="Multiple datasets"):
        cmr.collection_id("AMBIGUOUS")


def test_granule_count_validation(earthdata_server):
    cmr = CmrClient(earthdata_server)
    assert len(cmr.search_granules(DESC)) == 2
    one_day = DatasetDescriptor(
        dataset_name="M2T1NXAER",
        start_date="2023-06-01",
        end_date="2023-06-01",
    )
    # server returns 2 granules > 1 expected day → reject, as reference
    with pytest.raises(EarthdataError, match="expected only 1"):
        cmr.search_granules(one_day)


def test_rangeset_url_carries_subsets(earthdata_server):
    h = HarmonyClient(earthdata_server)
    url = h.rangeset_url("C100-TEST", DESC)
    assert "ogc-api-coverages/1.0.0" in url
    assert urllib.parse.quote("lon(68.0:98.0)") in url
    assert urllib.parse.quote("lat(6.0:38.0)") in url
    assert "variable=t2m" in url


def test_full_retrieve_and_distributed_decode(spark, earthdata_server, tmp_path):
    """S15 end-to-end: submit → poll (running×2 → successful) → download
    real NetCDF bytes → manifest → mapInPandas decode/regrid."""
    from pm25ml_spark.sources.raster import RasterGranule, read_granules_wide

    cmr = CmrClient(earthdata_server)
    harmony = HarmonyClient(
        earthdata_server, poll_interval_s=0.01, poll_timeout_s=10
    )
    paths = retrieve_subset(cmr, harmony, DESC, str(tmp_path))
    assert len(paths) == 2 and all(p.endswith(".nc") for p in paths)

    grid_pdf = pd.DataFrame(
        {"grid_id": [0, 1], "lon": [71.0, 75.0], "lat": [12.0, 17.0]}
    )
    granules = [
        RasterGranule(p, d, "t2m")
        for p, d in zip(sorted(paths), ("2023-06-01", "2023-06-02"))
    ]
    out = read_granules_wide(spark, granules, grid_pdf).toPandas()
    expect = 0.5 * grid_pdf["lon"] + 0.25 * grid_pdf["lat"] + 1.0
    for d in ("2023-06-01", "2023-06-02"):
        got = out[out.date == d].sort_values("grid_id")["t2m"].to_numpy()
        assert np.allclose(got, expect)
