"""NASA Earthdata orchestration clients (SURVEY S14/S15), stdlib-only.

Reference flow (`collectors/ned/data_retriever_raw.py:27-90`,
`data_retriever_harmony.py:80-257`): CMR granule search with
expected-count validation → either direct granule download (S14) or a
Harmony OGC-coverages subsetting job (S15): submit → poll ``/jobs/{id}``
until terminal → download the result links.

The reference drives this through earthaccess/requests/fsspec; here the
same protocol is spoken with ``urllib`` only, against any base URL — the
tests run a local mock Earthdata server returning real classic-NetCDF
bytes, and the downloaded files feed straight into the distributed
granule reader (`raster.read_granules_wide`). These clients are
deliberately driver-side: they orchestrate; the decode/regrid work is
the cluster's (same isolation the reference's ABC seam enforces).
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass, field
from pathlib import Path


class EarthdataError(RuntimeError):
    """Missing datasets/granules or failed jobs (NedMissingDataError dual)."""


@dataclass(frozen=True)
class DatasetDescriptor:
    """What to fetch: dataset + time range + spatial/variable subset
    (`dataset_descriptor.py` semantics)."""

    dataset_name: str
    start_date: str  # YYYY-MM-DD inclusive
    end_date: str  # YYYY-MM-DD inclusive
    version: str | None = None
    bbox: tuple[float, float, float, float] | None = None  # W, S, E, N
    variables: tuple[str, ...] = field(default=())

    @property
    def days_in_range(self) -> int:
        from datetime import date

        a = date.fromisoformat(self.start_date)
        b = date.fromisoformat(self.end_date)
        return (b - a).days + 1


def _get_json(url: str, token: str | None = None, timeout_s: float = 60.0):
    req = urllib.request.Request(url)
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    with urllib.request.urlopen(req, timeout=timeout_s) as resp:
        return json.loads(resp.read())


class CmrClient:
    """Granule/collection search against a CMR-shaped JSON API (S14)."""

    def __init__(self, base_url: str, token: str | None = None):
        self.base_url = base_url.rstrip("/")
        self.token = token

    def collection_id(self, short_name: str) -> str:
        """Resolve short_name → concept id; exactly one match required
        (data_retriever_harmony.py:203-217)."""
        q = urllib.parse.urlencode({"short_name": short_name})
        data = _get_json(
            f"{self.base_url}/search/collections.json?{q}", self.token
        )
        entries = data.get("feed", {}).get("entry", [])
        if not entries:
            raise EarthdataError(f"No datasets found for {short_name}.")
        if len(entries) > 1:
            raise EarthdataError(
                f"Multiple datasets found for {short_name}; "
                "specify a more precise dataset name."
            )
        return entries[0]["id"]

    def search_granules(self, desc: DatasetDescriptor) -> list[dict]:
        """Granules in the temporal range, validated against the expected
        one-per-day count (data_retriever_raw.py:66-90): zero → error,
        more than expected → error, fewer → allowed (logged upstream)."""
        params = {
            "short_name": desc.dataset_name,
            "temporal": f"{desc.start_date}T00:00:00Z,{desc.end_date}T23:59:59Z",
        }
        if desc.version:
            params["version"] = desc.version
        q = urllib.parse.urlencode(params)
        data = _get_json(
            f"{self.base_url}/search/granules.json?{q}", self.token
        )
        granules = data.get("feed", {}).get("entry", [])
        if not granules:
            raise EarthdataError(f"No granules found for dataset {desc}.")
        if len(granules) > desc.days_in_range:
            raise EarthdataError(
                f"Found {len(granules)} granules for dataset {desc}, but "
                f"expected only {desc.days_in_range}."
            )
        return granules


class HarmonyClient:
    """OGC-coverages subsetting jobs (S15): submit, poll, download."""

    ogc_api_coverages_version = "1.0.0"
    job_complete_percentage = 100

    def __init__(
        self,
        base_url: str,
        token: str | None = None,
        poll_interval_s: float = 10.0,
        poll_timeout_s: float = 3600.0,
    ):
        self.base_url = base_url.rstrip("/")
        self.token = token
        self.poll_interval_s = poll_interval_s
        self.poll_timeout_s = poll_timeout_s

    def rangeset_url(self, collection_id: str, desc: DatasetDescriptor) -> str:
        """The subsetting request URL
        (data_retriever_harmony.py:219-257)."""
        path = (
            f"/{collection_id}/ogc-api-coverages/"
            f"{self.ogc_api_coverages_version}/collections/parameter_vars/"
            "coverage/rangeset"
        )
        params: list[tuple[str, str]] = []
        if desc.bbox is not None:
            west, south, east, north = desc.bbox
            params += [
                ("subset", f"lon({west}:{east})"),
                ("subset", f"lat({south}:{north})"),
            ]
        params.append(
            (
                "subset",
                f'time("{desc.start_date}T00:00:00Z":"{desc.end_date}T23:59:59Z")',
            )
        )
        if desc.variables:
            params.append(("variable", ",".join(desc.variables)))
        return f"{self.base_url}{path}?{urllib.parse.urlencode(params)}"

    def submit_job(self, collection_id: str, desc: DatasetDescriptor) -> str:
        resp = _get_json(self.rangeset_url(collection_id, desc), self.token)
        job_id = resp.get("jobID")
        if not job_id:
            raise EarthdataError(f"Unable to start job: {resp}")
        return str(job_id)

    def await_job(self, job_id: str) -> list[dict]:
        """Poll until terminal; return the data links
        (data_retriever_harmony.py:158-179). ``running``/``accepted`` →
        keep polling; ``successful`` → links with rel=data; anything
        else → error."""
        deadline = time.monotonic() + self.poll_timeout_s
        while True:
            status = _get_json(
                f"{self.base_url}/jobs/{job_id}", self.token
            )
            state = status.get("status")
            if state in ("running", "accepted", "running_with_errors"):
                if time.monotonic() > deadline:
                    raise EarthdataError(
                        f"Job {job_id} still {state} after "
                        f"{self.poll_timeout_s}s"
                    )
                time.sleep(self.poll_interval_s)
                continue
            if state == "successful":
                return [
                    link
                    for link in status.get("links", [])
                    if link.get("rel") == "data"
                ]
            raise EarthdataError(
                f"Job {job_id} failed with status: {state}."
            )

    def download(self, href: str, dest_dir: str) -> str:
        name = Path(urllib.parse.urlparse(href).path).name or "granule.nc"
        dest = str(Path(dest_dir) / name)
        req = urllib.request.Request(href)
        if self.token:
            req.add_header("Authorization", f"Bearer {self.token}")
        with urllib.request.urlopen(req, timeout=300) as resp, open(
            dest, "wb"
        ) as fh:
            fh.write(resp.read())
        return dest


def retrieve_subset(
    cmr: CmrClient,
    harmony: HarmonyClient,
    desc: DatasetDescriptor,
    dest_dir: str,
) -> list[str]:
    """The full S15 flow: resolve collection → validate granules exist →
    submit subsetting job → poll → download every result link. Returns
    local paths ready for `raster.read_granules_wide` manifests."""
    collection = cmr.collection_id(desc.dataset_name)
    cmr.search_granules(desc)  # presence + count validation, as reference
    job_id = harmony.submit_job(collection, desc)
    links = harmony.await_job(job_id)
    if not links:
        raise EarthdataError(f"Job {job_id} returned no data links")
    return [harmony.download(link["href"], dest_dir) for link in links]
