"""Repository scan / dataset discovery + pending-work planning (S3, P11).

The reference polls a filesystem repository laid out as::

    <repo>/level_0/<YYYYMMDDhhmmss>/<file>.crs[.gz]
    <repo>/level_5/<YYYYMMDDhhmmss>/<file>.crs[.gz]

(README.md:167-170). Dataset names double as sortable timestamps — the
reference orders and compares them with plain string comparison
(lib/LINZ/BdeUpload.pm:621,648,686-689), and we preserve that exactly
(parsing them would change ``-before`` edge semantics).

Planning semantics (lib/LINZ/BdeUpload.pm:612-707):

- **Level 0** (GetLevel0Updates, :612-651): take the *latest* complete
  dataset (optionally before an end date); a table is pending if a rebuild
  is forced or its ``last_level0_dataset`` watermark is older.
- **Level 5** (GetLevel5Updates, :653-707): take *all* datasets after the
  table's ``last_upload_dataset``, in order — increments must be applied
  sequentially. ``l5_is_full`` tables take only the latest (:687).
- ``-before`` (P11): keep datasets strictly older than the bound; a bare
  date is normalized by appending ``000000``
  (bin/linz_bde_uploader.pl:137-142).

This is inherently driver-side work (a directory listing of a few thousand
entries), not a DataFrame job — same split the reference makes. On a
cluster the listing would go through the Hadoop FS API against object
storage; the planning logic is identical.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

DATASET_RE = re.compile(r"^\d{14}$")

LEVEL_DIRS = {"0": "level_0", "5": "level_5"}


@dataclass
class DatasetRef:
    level: str  # '0' or '5'
    name: str  # YYYYMMDDhhmmss
    path: str

    def file_path(self, file_prefix: str) -> str | None:
        """Resolve a table's file prefix to ``<prefix>.crs[.gz]`` in this
        dataset (availability check, lib/LINZ/BdeUpload.pm:84-92)."""
        for ext in (".crs", ".crs.gz"):
            p = os.path.join(self.path, file_prefix + ext)
            if os.path.exists(p):
                return p
        return None


def normalize_before(before: str | None) -> str | None:
    """``-before`` date normalization: a bare YYYYMMDD gets 000000 appended
    (bin/linz_bde_uploader.pl:137-142)."""
    if before is None:
        return None
    b = before.strip()
    if re.fullmatch(r"\d{8}", b):
        b += "000000"
    if not DATASET_RE.fullmatch(b):
        raise ValueError(f"-before must be YYYYMMDD or YYYYMMDDhhmmss, got {before!r}")
    return b


def list_datasets(repo: str, level: str, before: str | None = None) -> list[DatasetRef]:
    """All datasets of a level, name-sorted ascending (= time order)."""
    d = os.path.join(repo, LEVEL_DIRS[level])
    if not os.path.isdir(d):
        return []
    before = normalize_before(before)
    out = []
    for name in sorted(os.listdir(d)):
        if not DATASET_RE.fullmatch(name):
            continue
        if before is not None and not (name < before):
            continue
        path = os.path.join(d, name)
        if os.path.isdir(path):
            out.append(DatasetRef(level, name, path))
    return out


def is_complete(ds: DatasetRef, required_files: list[str]) -> bool:
    return all(ds.file_path(f) is not None for f in required_files)


def pending_level0(
    datasets: list[DatasetRef],
    last_level0_dataset: str | None,
    rebuild: bool = False,
    required_files: list[str] | None = None,
) -> list[DatasetRef]:
    """Latest complete dataset, if newer than the watermark (or rebuild).
    Returns [] or a single-element list (the reference loads only the most
    recent level 0, lib/LINZ/BdeUpload.pm:621-650)."""
    candidates = [
        ds for ds in datasets if required_files is None or is_complete(ds, required_files)
    ]
    if not candidates:
        return []
    latest = candidates[-1]
    if rebuild or last_level0_dataset is None or last_level0_dataset < latest.name:
        return [latest]
    return []


def pending_level5(
    datasets: list[DatasetRef],
    last_upload_dataset: str | None,
    l5_is_full: bool = False,
    required_files: list[str] | None = None,
) -> list[DatasetRef]:
    """All datasets strictly after the watermark, in order — every
    increment must be applied (lib/LINZ/BdeUpload.pm:676-686); a gap is the
    continuity check's job. ``l5_is_full`` tables take the latest only."""
    pend = [
        ds
        for ds in datasets
        if (last_upload_dataset is None or ds.name > last_upload_dataset)
        and (required_files is None or is_complete(ds, required_files))
    ]
    if l5_is_full and pend:
        return [pend[-1]]
    return pend
