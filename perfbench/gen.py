"""Seeded NEMSIS-shaped XML corpus generator.

Produces EMSDataSet files whose shape matters to the ingest path: 14
distinct tags (one table each) across the envelope and the eRecord,
eVitals, eDisposition, eInjury and eArrest sections, a repeated group
(eVitals x1-3), sections most PCRs lack, sparse attributes, attributes that
only appear in later files (so the lake's schema widens over time), a few
files ten times larger than the rest and about 1% truncated (malformed)
files.  For incremental batches it also emits revised PCRs (same UUID, new
values) and byte-identical resends.

The generator keeps its own model of what the lake must hold after each
ingest, so every check compares the lake against numbers that were never
derived from the program under test.  Everything is driven by one
``random.Random(seed)``: the same seed gives byte-identical files.
"""

from __future__ import annotations

import os
import random
import uuid
from collections import Counter
from dataclasses import dataclass, field

# (section, NEMSIS element numbers used, probability the section is
# present, (min, max) repetitions of the section inside one PCR)
SECTIONS = (
    ("eRecord", (1,), 1.0, (1, 1)),
    ("eVitals", (1, 6), 1.0, (1, 3)),
    ("eDisposition", (12,), 1.0, (1, 1)),
    ("eInjury", (1,), 0.15, (1, 1)),
    ("eArrest", (1,), 0.15, (1, 1)),
)
# presence probability of leaf i inside its section, cycling dense → sparse
LEAF_PRESENCE = (0.95, 0.8, 0.5, 0.3)
# attributes that exist only from a given file ordinal on: attribute j is
# used once ``ordinal >= (j + 1) * widen_every`` (schema widening)
LATE_ATTRS = ("CorrelationID", "Verified", "DeviceID", "Source", "Revision", "Channel")
LATE_ATTR_P = 0.03
CODES_PER_ELEMENT = 8
MALFORMED_FRAC = 0.01
SKEW_FRAC = 0.05  # share of files (rounded) that are SKEW_FACTOR times larger
SKEW_FACTOR = 10

STATUS_SKIPPED = "Skipped_MD5_Seen"


def table_of(tag: str) -> str:
    """Lake table name of a tag (``.`` → ``_``, lowercased)."""
    return tag.replace(".", "_").lower()


def is_coded(section: str, i: int) -> bool:
    return i % 3 == 0 and section != "eVitals"


def code_for(section: str, i: int, k: int) -> str:
    return f"{len(section)}{i:02d}{k:03d}"


# table -> the table of its parent element (None for the root)
PARENT_TABLE = {"emsdataset": None, "header": "emsdataset", "patientcarereport": "header"}
for _sec, _nums, _, _ in SECTIONS:
    PARENT_TABLE[table_of(_sec)] = "patientcarereport"
    for _i in _nums:
        PARENT_TABLE[table_of(f"{_sec}.{_i:02d}")] = table_of(_sec)


@dataclass
class Pcr:
    uuid: str
    version: int
    marker: str  # eRecord.01 value, unique per (uuid, version)
    counts: Counter  # table -> rows this PCR contributes


@dataclass
class Batch:
    paths: list[str]
    expected_status: dict[str, str]  # path -> status ("ok", "error" or STATUS_SKIPPED)
    n_bytes: int
    revised: list[str] = field(default_factory=list)


class Corpus:
    """Generates files under ``out_dir`` and models the lake they produce."""

    def __init__(self, seed: int, out_dir: str, pcrs_per_file: int = 4,
                 widen_every: int = 20):
        self.rng = random.Random(seed)
        self.pick_rng = random.Random(seed + 1)  # query targets, apart from the files
        self.out_dir = out_dir
        self.pcrs_per_file = pcrs_per_file
        self.widen_every = widen_every
        self.ordinal = 0
        self.pcrs: dict[str, Pcr] = {}  # live PCRs in the lake
        self.base = Counter()  # rows outside any PCR (file envelopes)
        self.ingested_ok: list[str] = []  # well-formed files already in the lake
        self.n_resends = 0
        os.makedirs(out_dir, exist_ok=True)

    # -- rendering --------------------------------------------------------
    def _uuid(self) -> str:
        return str(uuid.UUID(int=self.rng.getrandbits(128), version=4))

    def _leaf(self, out: list[str], counts: Counter, sec: str, i: int) -> None:
        rng = self.rng
        tag = f"{sec}.{i:02d}"
        attrs = []
        if sec == "eVitals" and rng.random() < 0.5:
            attrs.append('units="mmHg"')
        if sec == "eDisposition":
            attrs.append('CodeType="ICD10"')
        if sec == "eInjury" and rng.random() < 0.05:
            attrs.append('PN="8801019"')
        for j, name in enumerate(LATE_ATTRS):
            if self.ordinal >= (j + 1) * self.widen_every and rng.random() < LATE_ATTR_P:
                attrs.append(f'{name}="{rng.randrange(10**6)}"')
        if rng.random() < 0.03:
            attrs.append('NV="7701003"')
            text = ""
        elif is_coded(sec, i):
            text = code_for(sec, i, rng.randrange(1, CODES_PER_ELEMENT + 1))
        elif sec == "eVitals" and i == 1:
            text = f"2025-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}T" \
                   f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:00-05:00"
        else:
            text = str(rng.randrange(10, 1000))
        a = (" " + " ".join(attrs)) if attrs else ""
        out.append(f"<{tag}{a}>{text}</{tag}>" if text else f"<{tag}{a}/>")
        counts[table_of(tag)] += 1

    def _pcr_xml(self, pcr_uuid: str, version: int) -> tuple[str, Pcr]:
        rng = self.rng
        counts = Counter({"patientcarereport": 1})
        marker = f"rec-{pcr_uuid[:8]}-v{version}"
        out = [f'<PatientCareReport UUID="{pcr_uuid}">']
        for sec, nums, p_sec, (lo, hi) in SECTIONS:
            if rng.random() >= p_sec:
                continue
            for _ in range(rng.randint(lo, hi)):
                out.append(f"<{sec}>")
                counts[table_of(sec)] += 1
                for j, i in enumerate(nums):
                    if sec == "eRecord" and i == 1:
                        out.append(f"<eRecord.01>{marker}</eRecord.01>")
                        counts["erecord_01"] += 1
                    elif rng.random() < LEAF_PRESENCE[j % len(LEAF_PRESENCE)]:
                        self._leaf(out, counts, sec, i)
                out.append(f"</{sec}>")
        out.append("</PatientCareReport>")
        return "".join(out), Pcr(pcr_uuid, version, marker, counts)

    def _write_file(self, name: str, pcr_bodies: list[str]) -> tuple[str, int]:
        text = (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<EMSDataSet xmlns="http://www.nemsis.org">\n<Header>\n'
            + "\n".join(pcr_bodies)
            + "\n</Header>\n</EMSDataSet>\n"
        )
        path = os.path.join(self.out_dir, name)
        data = text.encode()
        with open(path, "wb") as fh:
            fh.write(data)
        return path, len(data)

    # -- batches ----------------------------------------------------------
    def batch(self, n_files: int, n_revised: int = 0, n_resends: int = 0,
              malformed: bool = False) -> Batch:
        """Generate one ingest batch and apply it to the lake model.

        ``malformed`` truncates ~1% of the new files (at least one).  Revised
        PCRs are drawn from PCRs already in the lake and spread over the new
        files; resends are byte-identical copies of files already ingested.
        """
        rng = self.rng
        skewed = set(rng.sample(range(n_files), round(n_files * SKEW_FRAC)))
        sizes = [self.pcrs_per_file * (SKEW_FACTOR if f in skewed else 1) for f in range(n_files)]
        bad = set()
        if malformed:
            k = max(1, round(n_files * MALFORMED_FRAC))
            bad = set(rng.sample(range(n_files), k))
        revised = rng.sample(sorted(self.pcrs), min(n_revised, len(self.pcrs)))
        per_file: list[list[str]] = [[] for _ in range(n_files)]
        for j, u in enumerate(revised):
            per_file[j % n_files].append(u)

        paths, expected, n_bytes, new_pcrs, new_base = [], {}, 0, {}, Counter()
        for f in range(n_files):
            bodies, made = [], []
            for _ in range(sizes[f]):
                u = self._uuid()
                body, pcr = self._pcr_xml(u, 0)
                bodies.append(body)
                made.append(pcr)
            for u in per_file[f]:
                body, pcr = self._pcr_xml(u, self.pcrs[u].version + 1)
                bodies.append(body)
                made.append(pcr)
            name = f"f{self.ordinal:06d}.xml"
            path, size = self._write_file(name, bodies)
            self.ordinal += 1
            if f in bad:
                with open(path, "rb+") as fh:
                    fh.truncate(size * 6 // 10)
                size = size * 6 // 10
                expected[path] = "error"
            else:
                expected[path] = "ok"
                new_base.update(emsdataset=1, header=1)
                for pcr in made:
                    new_pcrs[pcr.uuid] = pcr
            paths.append(path)
            n_bytes += size

        for _ in range(min(n_resends, len(self.ingested_ok))):
            src = rng.choice(self.ingested_ok)
            path = os.path.join(self.out_dir, f"resend{self.n_resends:05d}.xml")
            self.n_resends += 1
            with open(src, "rb") as fi, open(path, "wb") as fo:
                data = fi.read()
                fo.write(data)
            paths.append(path)
            expected[path] = STATUS_SKIPPED
            n_bytes += len(data)

        self.pcrs.update(new_pcrs)
        self.base.update(new_base)
        self.ingested_ok += [p for p in paths if expected[p] == "ok"]
        return Batch(paths, expected, n_bytes, revised)

    def rng_pick_pcr(self) -> str:
        """A live PCR for the reconstruction query."""
        return self.pick_rng.choice(sorted(self.pcrs))

    def envelope_rows(self) -> int:
        """Rows of one file outside any PCR (the root and its header)."""
        return 2

    def expected_counts(self) -> Counter:
        """table -> rows the lake must hold after every batch so far."""
        total = Counter(self.base)
        for pcr in self.pcrs.values():
            total.update(pcr.counts)
        return total

    def write_element_definitions(self, path: str) -> int:
        """Pipe-delimited ElementDefinitions for every coded element;
        returns the number of codes written."""
        lines = ["DatasetName|ElementNumber|ElementName|Code|CodeDescription"]
        for sec, nums, _, _ in SECTIONS:
            for i in nums:
                if is_coded(sec, i):
                    for k in range(1, CODES_PER_ELEMENT + 1):
                        lines.append(
                            f"EMSDataSet|{sec}.{i:02d}|{sec} element {i}|"
                            f" {code_for(sec, i, k)} |{sec}.{i:02d} code {k}"
                        )
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        return len(lines) - 1
