"""Engine options mirroring the reference's config surface.

Reference: config.py:24-48 (active_only, use_short_street_names,
parse_geometries, delete_no_longer_needed_bag_tables, orphan threshold).
These become declarative options that shape the generated DataFrame plan
instead of imperative branches. The XML scan itself has no option: a
zipped delivery is extracted and every file is parsed by Spark's JVM XML
source (sources/bag_xml.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # reference config.py:27 — keep only records active "as of today"
    active_only: bool = True
    # reference config.py:37, database_sqlite.py:94-97 — street name choice
    use_short_street_names: bool = False
    # reference config.py:39-43 — parse/convert geometry or blank it
    parse_geometries: bool = False
    # reference config.py:48, database_sqlite.py:604-612 — only delete orphan
    # addresses when fewer than this many (more indicates a broken import)
    delete_addresses_without_public_spaces_threshold: int = 100
    # snapshot date for temporal validity (reference utils.py:168-169 uses
    # datetime.today(); injectable here for deterministic tests)
    snapshot_date: str | None = None
    # validation thresholds (reference database_sqlite.py:716-754), scaled
    # per fixture; production values are the defaults
    min_adressen: int = 9_000_000
    min_adressen_with_pand: int = 9_000_000
    min_ligplaatsen: int = 10_000
    min_standplaatsen: int = 20_000
    min_openbare_ruimten: int = 250_000
    min_woonplaatsen: int = 2_000
    min_gemeenten: int = 300
    exact_provincies: int = 12
    sentinel_gemeente: tuple[int, str] = (1900, "Súdwest-Fryslân")
    sentinel_address: tuple[str, int, int] = ("1181BN", 1, 1050)


DEFAULT_CONFIG = EngineConfig()
