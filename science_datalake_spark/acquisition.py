"""Manifest-driven acquisition: the download layer as a resumable,
verifiable state machine — with the network part injected, never assumed.

Reference parallel: the five ``download_*`` scripts (~1,700 LoC:
openalex S3 sync, s2ag API pagination, fulltext HTTP with skip-if-exists,
ontologies with fallback URLs). Their common skeleton is exactly this
module: a list of (source → local file) items, skip what is already
complete, fetch the rest atomically, verify, record state, resume after
any crash. The transport differs per source, so here it is a pluggable
``fetcher`` callable — ``aws s3 sync`` / requests / huggingface_hub in
deployment, a filesystem copy in tests. No network code lives in this
repo (sandbox constraint AND good layering: acquisition runs on an edge
node, not on the cluster).

Guarantees:
- **atomic**: fetchers write to ``<dest>.part``; only a verified part
  file is renamed into place (a crash never leaves a truncated dest)
- **resumable**: items whose dest exists and verifies are skipped without
  refetching; a stale ``.part`` is handed back to the fetcher, which may
  resume it (HTTP Range) or start over
- **verified**: expected size and/or sha256 checked before the rename —
  the same recount-after-COPY discipline the converters use
- **recorded**: per-item state (done/failed + error + attempts) persists
  as JSON next to the destination dir, so a re-run continues where the
  last one stopped (convert_openalex's checkpoint pattern applied to
  acquisition)
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

#: fetcher(url, part_path) — downloads url into part_path (may append to an
#: existing partial file); raises on failure.
Fetcher = Callable[[str, str], None]


@dataclass(frozen=True)
class ManifestItem:
    url: str
    filename: str
    expected_size: int | None = None
    sha256: str | None = None


@dataclass
class ItemResult:
    filename: str
    status: str  # "done" | "skipped" | "failed"
    error: str | None = None
    attempts: int = 0


@dataclass
class AcquisitionReport:
    results: list[ItemResult] = field(default_factory=list)

    @property
    def done(self) -> list[str]:
        return [r.filename for r in self.results if r.status == "done"]

    @property
    def skipped(self) -> list[str]:
        return [r.filename for r in self.results if r.status == "skipped"]

    @property
    def failed(self) -> list[str]:
        return [r.filename for r in self.results if r.status == "failed"]

    @property
    def ok(self) -> bool:
        return not self.failed


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _verify(path: str, item: ManifestItem) -> str | None:
    """None if the file satisfies the manifest, else the failure reason."""
    if not os.path.exists(path):
        return "missing"
    if item.expected_size is not None and os.path.getsize(path) != item.expected_size:
        return f"size {os.path.getsize(path)} != expected {item.expected_size}"
    if item.sha256 is not None and _sha256(path) != item.sha256:
        return "sha256 mismatch"
    return None


class ManifestAcquirer:
    """Run a manifest to completion against a pluggable fetcher."""

    def __init__(
        self,
        dest_dir: str,
        fetcher: Fetcher,
        state_path: str | None = None,
        max_attempts: int = 3,
        backoff_seconds: float = 0.0,
    ):
        self.dest_dir = dest_dir
        self.fetcher = fetcher
        self.state_path = state_path or os.path.join(dest_dir, "_acquisition_state.json")
        self.max_attempts = max_attempts
        self.backoff_seconds = backoff_seconds
        os.makedirs(dest_dir, exist_ok=True)

    # -- state ------------------------------------------------------------
    def _load_state(self) -> dict[str, dict]:
        try:
            with open(self.state_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _save_state(self, state: dict[str, dict]) -> None:
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1, sort_keys=True)
        os.replace(tmp, self.state_path)

    # -- run --------------------------------------------------------------
    def run(self, items: list[ManifestItem]) -> AcquisitionReport:
        state = self._load_state()
        report = AcquisitionReport()
        for item in items:
            dest = os.path.join(self.dest_dir, item.filename)
            # resume: an existing, verifying dest is never refetched
            if _verify(dest, item) is None:
                state[item.filename] = {"status": "done", "verified": True}
                report.results.append(ItemResult(item.filename, "skipped"))
                continue
            result = self._fetch_one(item, dest)
            state[item.filename] = {
                "status": result.status,
                "error": result.error,
                "attempts": result.attempts,
            }
            self._save_state(state)
            report.results.append(result)
        self._save_state(state)
        return report

    def _fetch_one(self, item: ManifestItem, dest: str) -> ItemResult:
        part = dest + ".part"
        last_error = "no attempts made"
        for attempt in range(1, self.max_attempts + 1):
            try:
                self.fetcher(item.url, part)
            except Exception as e:  # boundary: a user-supplied fetcher's error is a retried attempt
                last_error = f"fetch: {e}"
                # the .part file is deliberately KEPT on fetch failure —
                # a later attempt or a whole new run hands it back to the
                # fetcher, which may resume it (HTTP Range). Only a
                # failed VERIFICATION invalidates the bytes (below).
                if self.backoff_seconds:
                    time.sleep(self.backoff_seconds * attempt)
                continue
            reason = _verify(part, item)
            if reason is None:
                os.replace(part, dest)  # atomic publish
                return ItemResult(item.filename, "done", attempts=attempt)
            last_error = f"verify: {reason}"
            # a failed verification invalidates the partial file entirely
            if os.path.exists(part):
                os.remove(part)
        return ItemResult(item.filename, "failed", error=last_error, attempts=self.max_attempts)


def ontology_manifest() -> list[ManifestItem]:
    """The fetchable-ontology manifest derived from the declarative
    registry's ``download_url`` (the direct data-file URL — NOT the
    homepage ``source_url``). Manual-download entries (CSO: portal login)
    are excluded; sizes/checksums are unknown upstream, so these items
    verify by existence only — pass size/sha per item when a deployment
    pins versions."""
    from science_datalake_spark.sources.ontology_registry import ONTOLOGIES

    return [
        ManifestItem(url=s.download_url, filename=s.filename)
        for s in ONTOLOGIES.values()
        if s.download_url
    ]
