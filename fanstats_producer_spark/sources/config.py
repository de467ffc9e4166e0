"""Versioned multi-doc YAML config loading (SURVEY.md §2A P8/P10).

The reference loads two config files, each a two-document YAML stream:
a leading `{version: ...}` doc and a data doc (reference main.py:49-61,
nba.yaml:1-7, platforms.yaml:1-5).  Handlers dispatch on version
(main.py:170, 233) and reject unknown versions — the reference `raise`s
a bare string there (main.py:196-200, 241), which is itself a TypeError;
we raise real ValueErrors (SURVEY.md §2A quirks note).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import yaml

SUPPORTED_VERSIONS = ("1.0",)


@dataclass
class DataFileConfig:
    """Mirror of the datafile (nba.yaml:4-7): topic, type, aliases, and
    the optional League key that Team-type datafiles carry
    (main.py:185-186)."""

    version: str
    topic: str
    type: str
    aliases: list[str] = field(default_factory=list)
    league: str | None = None

    @property
    def partition_key(self) -> str:
        """Topic-or-league partition choice (main.py:184-186)."""
        if self.type == "Team":
            if self.league is None:
                raise ValueError(
                    "Team-type datafile requires a League key (main.py:185-186)"
                )
            return self.league
        return self.topic


@dataclass
class PlatformsConfig:
    version: str
    platforms: list[str] = field(default_factory=list)


def _load_two_doc(path: str) -> tuple[dict, dict]:
    with open(path) as f:
        docs = list(yaml.safe_load_all(f))
    if len(docs) < 2:
        raise ValueError(f"{path}: expected [version_doc, data_doc] YAML stream")
    return docs[0], docs[1]


def _check_version(version: object, what: str) -> str:
    v = str(version)
    if v not in SUPPORTED_VERSIONS:
        raise ValueError(f"unsupported {what} version: {v!r} (supported: {SUPPORTED_VERSIONS})")
    return v


def load_data_file(path: str) -> DataFileConfig:
    """P8+P10: versioned datafile load (main.py:49-54 + gate main.py:170)."""
    version_doc, data = _load_two_doc(path)
    v = _check_version(version_doc.get("version"), "datafile")
    return DataFileConfig(
        version=v,
        topic=data["Topic"],
        type=data["Type"],
        aliases=list(data.get("Aliases") or []),
        league=data.get("League"),
    )


def load_platforms(path: str) -> PlatformsConfig:
    """P8+P10: versioned platformfile load (main.py:56-61 + gate main.py:233)."""
    version_doc, data = _load_two_doc(path)
    v = _check_version(version_doc.get("version"), "platformfile")
    return PlatformsConfig(version=v, platforms=list(data.get("Platforms") or []))

