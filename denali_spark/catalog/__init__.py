"""denali_spark.catalog — an Apache Iceberg REST Catalog service in pure
Python (stdlib HTTP + sqlite3), the rebuild of the reference Go service.

Parity map (reference → here):
- routes/        → service.py   (26 REST endpoints, SURVEY §2.A)
- logic/ns.go    → store.py     (namespace store ops)
- logic/table.go → metadata.py + store.py (metadata build/write, register, CAS)
- logic/updates.go → updates.py (17 table + view update ops, SURVEY §2.C)
- logic/reqs.go  → requirements.py (8 commit requirements, SURVEY §2.D —
                   actually *evaluated* here, unlike the reference)
- iceberg-overload/view → view metadata (gzip JSON) in metadata.py
- main.go CLI    → __main__.py  (`start --port --temp`)

Known deviations (all spec-correct or documented):
- Manifest lists/manifests follow the Iceberg two-level Avro layout
  (sources/manifests.py, pure-Python OCF codec; bounds are field-id-keyed
  binary single-values — see that module's docstring). Only that layout is
  read: tables written before round 7 are not readable, and there is no
  migration. Table *metadata* JSON follows the Iceberg V2 spec.
- Reference bugs fixed per SURVEY §7.5 (requirements enforced, identifier
  check un-inverted, set-default-spec sets default-spec-id, views get CAS).
"""

from denali_spark.catalog.client import CatalogClient
from denali_spark.catalog.service import CatalogServer, make_state

__all__ = ["CatalogClient", "CatalogServer", "make_state"]
