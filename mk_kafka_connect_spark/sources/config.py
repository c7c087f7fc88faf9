"""Connector configuration — the engine-side mirror of the reference's
config surface (``ChargeOverSourceConnectorConfig.java:29-94``), as a plain
dataclass with the same validation semantics:

* entity list (CSV) with per-entity overrides parsed from ``entity:value``
  maps split on the FIRST colon (datetimes contain colons —
  ``Config.java:241-267``)
* per-entity datetime field (default ``mod_datetime``) and id field
  (default ``id``) — ``Config.java:129-149,182-234``
* batch size clamped to [1, 500] (``Config.java:53-58``)
* strict ``YYYY-MM-DD HH:MM:SS`` initial-datetime validation
  (``Config.java:210-227``)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

__all__ = ["RestSourceConfig", "parse_entity_map", "parse_csv"]

DATETIME_FMT = "%Y-%m-%d %H:%M:%S"


def parse_csv(raw: str) -> list[str]:
    return [x.strip() for x in raw.split(",") if x.strip()]


def parse_entity_map(raw: str) -> dict[str, str]:
    """``entity1:value1,entity2:value2`` — split each pair on the FIRST
    colon only, because values may themselves contain colons (datetime
    strings; ``Config.java:241-267``)."""
    out: dict[str, str] = {}
    for pair in parse_csv(raw):
        if ":" not in pair:
            raise ValueError(f"malformed entity map entry (no colon): {pair!r}")
        k, v = pair.split(":", 1)
        out[k.strip()] = v.strip()
    return out


@dataclass
class RestSourceConfig:
    base_url: str
    username: str = ""
    password: str = ""
    entities: list[str] = field(default_factory=lambda: ["customer"])
    batch_size: int = 500
    max_retries: int = 3
    datetime_fields: dict[str, str] = field(default_factory=dict)
    id_fields: dict[str, str] = field(default_factory=dict)
    initial_datetimes: dict[str, str] = field(default_factory=dict)
    query_params: dict[str, str] = field(default_factory=dict)
    request_timeout_s: float = 30.0

    def __post_init__(self) -> None:
        if not self.entities:
            raise ValueError("entities must be a non-empty list")
        if not 1 <= self.batch_size <= 500:  # Range.between(1,500), Config.java:56
            raise ValueError(f"batch_size must be in [1, 500], got {self.batch_size}")
        if self.max_retries < 0:
            raise ValueError("max_retries must be >= 0")
        for entity, dt in self.initial_datetimes.items():
            try:
                datetime.strptime(dt, DATETIME_FMT)
            except ValueError as e:
                raise ValueError(
                    f"initial datetime for {entity!r} must be YYYY-MM-DD HH:MM:SS, "
                    f"got {dt!r}"
                ) from e

    # Per-entity accessors with reference defaults (Config.java:129-149,229-234).
    def datetime_field(self, entity: str) -> str:
        return self.datetime_fields.get(entity, "mod_datetime")

    def id_field(self, entity: str) -> str:
        return self.id_fields.get(entity, "id")

    def entity_query_params(self, entity: str) -> str:
        """Extra pushdown params (``fields=``/``expand=``) appended verbatim
        to the request — projection + relation-expansion pushdown
        (Config.java:269-289)."""
        return self.query_params.get(entity, "")

    @classmethod
    def from_options(cls, options: dict[str, str]) -> "RestSourceConfig":
        """Build from flat string options (the DataSource option map),
        using the reference's property names where they exist."""
        return cls(
            base_url=options.get("url", options.get("base_url", "")),
            username=options.get("username", ""),
            password=options.get("password", ""),
            entities=parse_csv(options.get("entities", "customer")),
            batch_size=int(options.get("batch.size", "500")),
            max_retries=int(options.get("max.retries", "3")),
            datetime_fields=parse_entity_map(options.get("incremental.datetime.fields", ""))
            if options.get("incremental.datetime.fields")
            else {},
            id_fields=parse_entity_map(options.get("entity.id.fields", ""))
            if options.get("entity.id.fields")
            else {},
            initial_datetimes=parse_entity_map(options.get("initial.datetimes", ""))
            if options.get("initial.datetimes")
            else {},
            query_params=parse_entity_map(options.get("entity.query.params", ""))
            if options.get("entity.query.params")
            else {},
            request_timeout_s=float(options.get("request.timeout.s", "30")),
        )
