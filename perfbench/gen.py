"""Seeded, single-process input generators for the benchmark.

`DumpGenerator` builds daily DSA statement-of-reasons dumps shaped like the
real Discord files: an outer zip holding nested zips of one CSV each, with
the 36 wire columns, ~1 KB rows (free-text facts and explanations, UUIDv4
keys), ~1.5% uuids re-sent from the previous day, ~1% empty uuids, ~1%
malformed `platform_uid`, and one ragged member (a row wider than the
header) every fourth day so the extraction fallback tier runs.

It also keeps a light per-row tally (uuid, created_at, entity_id,
category) so the benchmark can compute expected results without Spark.

`make_corpus` builds the near-dup curation corpus: free-text documents
with planted clusters of light edits plus distinct singletons.

Everything is a pure function of the seed: the same seed gives the same
bytes.
"""

from __future__ import annotations

import csv
import io
import random
import uuid
import zipfile
from dataclasses import dataclass
from datetime import date, datetime, timedelta

# The dump header as the transparency database publishes it. Kept apart
# from the package's schema so a schema change cannot change the input.
CSV_COLUMNS = [
    "uuid", "decision_visibility", "decision_visibility_other",
    "end_date_visibility_restriction", "decision_monetary",
    "decision_monetary_other", "end_date_monetary_restriction",
    "decision_provision", "end_date_service_restriction", "decision_account",
    "end_date_account_restriction", "account_type", "decision_ground",
    "decision_ground_reference_url", "illegal_content_legal_ground",
    "illegal_content_explanation", "incompatible_content_ground",
    "incompatible_content_explanation", "category", "category_addition",
    "category_specification", "category_specification_other", "content_type",
    "content_type_other", "content_language", "content_date",
    "territorial_scope", "application_date", "decision_facts", "source_type",
    "source_identity", "automated_detection", "automated_decision",
    "platform_name", "platform_uid", "created_at",
]

DAY0 = date(2025, 1, 6)
CATEGORIES = [
    "STATEMENT_CATEGORY_SCAM_AND_FRAUD",
    "STATEMENT_CATEGORY_ILLEGAL_OR_HARMFUL_SPEECH",
    "STATEMENT_CATEGORY_VIOLENCE",
    "STATEMENT_CATEGORY_PROTECTION_OF_MINORS",
    "STATEMENT_CATEGORY_CYBER_VIOLENCE",
    "STATEMENT_CATEGORY_DATA_PROTECTION_AND_PRIVACY_VIOLATIONS",
    "STATEMENT_CATEGORY_SCOPE_OF_PLATFORM_SERVICE",
    "STATEMENT_CATEGORY_INTELLECTUAL_PROPERTY_INFRINGEMENTS",
]
ENTITY_TYPES = ["user", "guild", "message", "channel"]
WORDS = (
    "account server message content removed policy violation community "
    "guidelines report user moderation automated review spam link harmful "
    "behaviour repeated warning suspension channel image video text terms "
    "service abuse harassment threat minor safety fraud scheme phishing "
    "payment external website impersonation evasion ban appeal decision "
    "notice statement reason legal ground illegal incompatible platform "
    "discord team trust investigation evidence detected flagged manual "
    "restriction visibility monetary provision territorial scope member "
    "guild invite bot token raid coordinated network copyright trademark "
    "privacy personal data disclosure doxxing extremist violent graphic"
).split()
_ACCOUNT = ("", '["DECISION_ACCOUNT_SUSPENDED"]', '["DECISION_ACCOUNT_TERMINATED"]')
_GROUNDS = ("DECISION_GROUND_INCOMPATIBLE_CONTENT", "DECISION_GROUND_ILLEGAL_CONTENT")
_CONTENT_TYPES = ('["CONTENT_TYPE_TEXT"]', '["CONTENT_TYPE_IMAGE","CONTENT_TYPE_TEXT"]')
# no dash, too few parts, or a snowflake that is not a number
_BAD_UIDS = ("", "n/a", "x-y", "not-a-snowflake")
_RAGGED_EVERY = 4
ROWS_PER_MEMBER = 400  # rows in each nested CSV member of a day's dump
CLUSTER_SHARE = 0.3  # share of corpus docs that sit in a planted cluster
CLUSTER_SIZE = 4  # docs per planted cluster: a base and its light edits


def day_name(d: date) -> str:
    """File name of a day's dump, as the real URL template spells it."""
    return f"sor-discord-netherlands-bv-{d.isoformat()}-full.zip"


@dataclass(frozen=True)
class RowTally:
    uuid: str
    created_at: str
    entity_id: str
    category: str


class DumpGenerator:
    """Deterministic daily dumps: day `i` is DAY0 + i, `rows_per_day`
    rows, split into members of ROWS_PER_MEMBER rows each."""

    def __init__(self, seed: int, rows_per_day: int):
        self.seed = seed
        self.rows_per_day = rows_per_day
        self.n_entities = max(50, rows_per_day // 4)
        self._base_cache: dict[int, list[dict]] = {}

    def date(self, i: int) -> date:
        return DAY0 + timedelta(days=i)

    def _base_rows(self, day: int) -> list[dict]:
        """The day's rows as first delivered (before re-sends/defects)."""
        cached = self._base_cache.get(day)
        if cached is not None:
            return cached
        r = random.Random(f"{self.seed}:{day}:base")
        d = self.date(day)
        midnight = datetime(d.year, d.month, d.day)
        rows = []
        for _ in range(self.rows_per_day):
            created = midnight + timedelta(seconds=r.randrange(86400))
            stamp = created.strftime("%Y-%m-%d %H:%M:%S")
            # skewed entity popularity so point lookups return several rows
            ent = int(self.n_entities * r.random() ** 2) + 1_000_000
            snowflake = (int(created.timestamp() * 1000) - 1420070400000) << 22
            expl = " ".join(r.choices(WORDS, k=22))
            rows.append({
                "uuid": str(uuid.UUID(int=r.getrandbits(128), version=4)),
                "decision_visibility": '["DECISION_VISIBILITY_CONTENT_REMOVED"]',
                "decision_account": r.choice(_ACCOUNT),
                "account_type": "ACCOUNT_TYPE_PRIVATE",
                "decision_ground": r.choice(_GROUNDS),
                "decision_ground_reference_url": "https://discord.com/terms",
                "illegal_content_explanation": expl if r.random() < 0.3 else "",
                "incompatible_content_ground": "Community Guidelines",
                "incompatible_content_explanation": expl,
                "category": r.choice(CATEGORIES),
                "category_specification": '["KEYWORD_OTHER"]',
                "content_type": r.choice(_CONTENT_TYPES),
                "content_language": "EN",
                "content_date": (
                    created - timedelta(hours=r.randrange(1, 200))
                ).strftime("%Y-%m-%d %H:%M:%S"),
                "territorial_scope": '["AT","BE","BG","DE","FR","NL","PL"]',
                "application_date": stamp,
                "decision_facts": " ".join(r.choices(WORDS, k=55)).capitalize() + ".",
                "source_type": "SOURCE_VOLUNTARY",
                "automated_detection": r.choice(("Yes", "No")),
                "automated_decision": "AUTOMATED_DECISION_PARTIALLY",
                "platform_name": "Discord",
                "platform_uid": f"{snowflake}-{ent}-{r.choice(ENTITY_TYPES)}",
                "created_at": stamp,
            })
        self._base_cache[day] = rows
        return rows

    def rows(self, day: int) -> list[dict]:
        """The day's delivered rows, defects included."""
        base = self._base_rows(day)
        prev = self._base_rows(day - 1) if day > 0 else None
        r = random.Random(f"{self.seed}:{day}:defects")
        out = []
        for row in base:
            u = r.random()
            if prev is not None and u < 0.015:
                # re-sent statement: an earlier day's row, updated today
                row = dict(prev[r.randrange(len(prev))], created_at=row["created_at"])
            elif u < 0.025:
                row = dict(row, uuid="")
            elif u < 0.035:
                row = dict(row, platform_uid=r.choice(_BAD_UIDS))
            out.append(row)
        return out

    def tallies(self, day: int) -> tuple[list[RowTally], int]:
        """(valid row tallies, empty-uuid count) of the delivered day."""
        valid, empty = [], 0
        for row in self.rows(day):
            if not row["uuid"]:
                empty += 1
                continue
            parts = row["platform_uid"].split("-")
            ent = parts[1] if len(parts) >= 3 else ""
            valid.append(RowTally(row["uuid"], row["created_at"], ent, row["category"]))
        return valid, empty

    def day_zip(self, day: int) -> bytes:
        """Outer zip of nested member zips, one CSV per member."""
        rows = self.rows(day)
        outer = io.BytesIO()
        # fastest deflate level: the archive's shape is what the source
        # reads, and level 6 would double the time spent building inputs
        with zipfile.ZipFile(outer, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as oz:
            for m, lo in enumerate(range(0, len(rows), ROWS_PER_MEMBER)):
                buf = io.StringIO()
                w = csv.writer(buf, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
                w.writerow(CSV_COLUMNS)
                chunk = rows[lo : lo + ROWS_PER_MEMBER]
                ragged = m == 0 and day % _RAGGED_EVERY == 1
                for k, row in enumerate(chunk):
                    rec = [row.get(c, "") for c in CSV_COLUMNS]
                    if ragged and k == len(chunk) - 1:
                        rec.append("trailing-extra-field")
                    w.writerow(rec)
                inner = io.BytesIO()
                stem = day_name(self.date(day))[:-4]
                with zipfile.ZipFile(inner, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as iz:
                    iz.writestr(f"{stem}-{m:05d}.csv", buf.getvalue())
                oz.writestr(f"{stem}-{m:05d}.csv.zip", inner.getvalue())
        return outer.getvalue()


class LakeModel:
    """Expected store contents, computed without the engine.

    `load(days)` applies one batch of delivered days the way a batch run
    does: within the batch, the latest created_at per uuid wins; against
    the existing store, `mode="append"` keeps existing uuids untouched
    (lake anti-join append) and `mode="upsert"` replaces them."""

    def __init__(self):
        self.rows: dict[str, RowTally] = {}

    def load(self, batch: list[RowTally], mode: str) -> int:
        latest: dict[str, RowTally] = {}
        for t in batch:
            cur = latest.get(t.uuid)
            if cur is None or t.created_at > cur.created_at:
                latest[t.uuid] = t
        written = 0
        for u, t in latest.items():
            if mode == "append" and u in self.rows:
                continue
            self.rows[u] = t
            written += 1
        return written

    def per_day(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for t in self.rows.values():
            dt = t.created_at[:10]
            out[dt] = out.get(dt, 0) + 1
        return out

    def entity_uuids(self, entity_id: str) -> list[str]:
        return sorted(u for u, t in self.rows.items() if t.entity_id == entity_id)

    def category_counts(self, dt: str) -> dict[str, int]:
        out: dict[str, int] = {}
        for t in self.rows.values():
            if t.created_at.startswith(dt):
                out[t.category] = out.get(t.category, 0) + 1
        return out

    def entities(self) -> list[str]:
        return sorted({t.entity_id for t in self.rows.values() if t.entity_id})


def make_corpus(seed: int, n_docs: int) -> tuple[list[tuple[int, str]], list[list[int]]]:
    """Curation corpus: (docs, planted clusters). A cluster is a base
    statement plus light edits of it (a few words swapped, a sentence
    appended); every other doc is an independent singleton."""
    r = random.Random(f"{seed}:corpus")
    docs: list[tuple[int, str]] = []
    clusters: list[list[int]] = []
    n_clustered = int(n_docs * CLUSTER_SHARE)
    while len(docs) < n_clustered:
        base = r.choices(WORDS, k=r.randrange(60, 110))
        members = []
        for k in range(CLUSTER_SIZE):
            words = list(base)
            if k:
                for _ in range(max(1, len(words) // 40)):
                    words[r.randrange(len(words))] = r.choice(WORDS)
                if r.random() < 0.5:
                    words += r.choices(WORDS, k=3)
            members.append(len(docs))
            docs.append((len(docs), " ".join(words)))
        clusters.append(members)
    while len(docs) < n_docs:
        docs.append((len(docs), " ".join(r.choices(WORDS, k=r.randrange(60, 110)))))
    return docs, clusters
