"""Catalog / metadata layer — STAC-style lifecycle on table metadata
(SURVEY.md §2.12 M1-M7; reference gridded_etl_tools/utils/metadata.py).

The reference maintains a STAC Catalog → Collection → Item tree where each
published Zarr version becomes an Item whose "prev" links chain the history
(metadata.py:342-525). Here:

  - the *root catalog* is a directory of JSON files (M2);
  - a *collection* aggregates a dataset's spatial/temporal extent, computed
    by Spark aggregation over the published table (M3 ← A1/A2);
  - an *item* is written per publish with data pointers + properties and a
    "prev" link to the previous item version (M4); history = the versions
    log the GridStore already maintains (Delta-history analog, M5);
  - extent union on re-publish uses least/greatest semantics (A6).

Everything here is metadata-scale (driver-side JSON); the only cluster work
is the extent aggregation, one tiny job per publish.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor

STAC_VERSION = "1.0.0"


def _iso_key(s: str) -> dt.datetime:
    """Chronological sort key for the catalog's own ISO-8601 'Z' strings
    (variable fractional-second precision makes them lexicographically
    unordered: '...00Z' > '...00.5Z' as strings)."""
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00"))


def extent(
    df: DataFrame, time_dim: str = "time", rounding: int = 5
) -> tuple[list[float], list[str]]:
    """A1 + A2 in one aggregation job: the [min_lon, min_lat, max_lon,
    max_lat] bbox (convenience.py:444-464) and the [start, end] ISO interval
    (convenience.py:281-306)."""
    row = df.agg(
        F.round(F.min("longitude"), rounding).alias("lo_lon"),
        F.round(F.min("latitude"), rounding).alias("lo_lat"),
        F.round(F.max("longitude"), rounding).alias("hi_lon"),
        F.round(F.max("latitude"), rounding).alias("hi_lat"),
        F.min(time_dim).alias("lo"),
        F.max(time_dim).alias("hi"),
    ).first()
    bbox = [row["lo_lon"], row["lo_lat"], row["hi_lon"], row["hi_lat"]]
    return bbox, [row["lo"].isoformat() + "Z", row["hi"].isoformat() + "Z"]


def bbox_geometry(bbox: list[float]) -> dict[str, Any]:
    """F11: bbox → GeoJSON polygon without a geo library (metadata.py:373-375)."""
    lo_lon, lo_lat, hi_lon, hi_lat = bbox
    return {
        "type": "Polygon",
        "coordinates": [
            [
                [lo_lon, lo_lat],
                [lo_lon, hi_lat],
                [hi_lon, hi_lat],
                [hi_lon, lo_lat],
                [lo_lon, lo_lat],
            ]
        ],
    }


def union_extent(a: list[float], b: list[float]) -> list[float]:
    """A6: elementwise min/max of two bboxes (metadata.py:540-542)."""
    return [min(a[0], b[0]), min(a[1], b[1]), max(a[2], b[2]), max(a[3], b[3])]


class StacCatalog:
    """Filesystem-backed STAC-style catalog (M1-M7)."""

    def __init__(self, root: str | Path, organization: str = "zarr-climate-etl-ipfs-spark"):
        self.root = Path(root)
        self.organization = organization

    # -- M2: root catalog ----------------------------------------------------

    def _catalog_file(self) -> Path:
        return self.root / "catalog.json"

    def ensure_root_catalog(self) -> dict[str, Any]:
        if self._catalog_file().exists():
            return json.loads(self._catalog_file().read_text())
        cat = {
            "type": "Catalog",
            "stac_version": STAC_VERSION,
            "id": self.organization,
            "description": f"Root catalog for {self.organization}",
            "links": [],
        }
        self.root.mkdir(parents=True, exist_ok=True)
        self._catalog_file().write_text(json.dumps(cat, indent=2))
        return cat

    # -- M3: collection --------------------------------------------------------

    def _collection_file(self, name: str) -> Path:
        return self.root / name / "collection.json"

    def create_or_update_collection(
        self, desc: DatasetDescriptor, df: DataFrame
    ) -> dict[str, Any]:
        """Create the collection or widen its extents (metadata.py:264-341,
        527-551): bbox/temporal from one aggregation job, extent union on
        re-publish."""
        self.ensure_root_catalog()
        name = desc.collection_name or desc.dataset_name
        bbox, interval = extent(df, desc.time_dim, desc.bbox_rounding_value)
        f = self._collection_file(name)
        if f.exists():
            coll = json.loads(f.read_text())
            old_bbox = coll["extent"]["spatial"]["bbox"][0]
            coll["extent"]["spatial"]["bbox"] = [union_extent(old_bbox, bbox)]
            old_int = coll["extent"]["temporal"]["interval"][0]
            # compare as datetimes, not ISO strings: isoformat() includes
            # microseconds only when nonzero, and '...00Z' sorts ABOVE
            # '...00.500000Z' lexicographically ('.' < 'Z'), so a string
            # max() would fail to widen past a fractional-second endpoint
            coll["extent"]["temporal"]["interval"] = [
                [
                    min(old_int[0], interval[0], key=_iso_key),
                    max(old_int[1], interval[1], key=_iso_key),
                ]
            ]
        else:
            coll = {
                "type": "Collection",
                "stac_version": STAC_VERSION,
                "id": name,
                "description": f"{desc.dataset_name} ({desc.time_resolution})",
                "license": "proprietary",
                "extent": {
                    "spatial": {"bbox": [bbox]},
                    "temporal": {"interval": [interval]},
                },
                "links": [],
            }
            # link into the root catalog
            cat = self.ensure_root_catalog()
            href = f"./{name}/collection.json"
            if not any(link.get("href") == href for link in cat["links"]):
                cat["links"].append({"rel": "child", "href": href})
                self._catalog_file().write_text(json.dumps(cat, indent=2))
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(json.dumps(coll, indent=2))
        return coll

    # -- M4/M5: items + version chain -----------------------------------------

    def register_item(
        self,
        desc: DatasetDescriptor,
        df: DataFrame,
        data_href: str,
        properties: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Write a per-publish Item with data pointer and a "prev" link to
        the previous version (metadata.py:342-525): the IPNS hash chain
        becomes an explicit item-version chain on the filesystem."""
        name = desc.collection_name or desc.dataset_name
        items_dir = self.root / name / "items"
        items_dir.mkdir(parents=True, exist_ok=True)
        existing = sorted(items_dir.glob("v*.json"))
        version = len(existing) + 1
        bbox, interval = extent(df, desc.time_dim, desc.bbox_rounding_value)
        props = {
            "dataset": desc.dataset_name,
            "time_resolution": desc.time_resolution,
            "dataset_category": desc.dataset_category,
            "unit_of_measurement": desc.unit_of_measurement,
            "start_datetime": interval[0],
            "end_datetime": interval[1],
            "created": dt.datetime.now(dt.timezone.utc).isoformat(),
        }
        # dict attrs → JSON strings, None → "" (metadata.py:820-833)
        for k, v in (properties or {}).items():
            props[k] = json.dumps(v, sort_keys=True) if isinstance(v, dict) else ("" if v is None else v)
        item = {
            "type": "Feature",
            "stac_version": STAC_VERSION,
            "id": f"{name}-v{version}",
            "bbox": bbox,
            "geometry": bbox_geometry(bbox),
            "properties": props,
            "assets": {"data": {"href": data_href, "type": "application/x-parquet"}},
            "links": (
                [{"rel": "prev", "href": f"./v{version - 1}.json"}] if existing else []
            ),
        }
        (items_dir / f"v{version}.json").write_text(json.dumps(item, indent=2))
        return item

    def latest_item(self, name: str) -> dict[str, Any] | None:
        """M7/S12 analog: resolve the latest published version (the IPNS
        latest-hash lookup, ipfs.py:225-254)."""
        items_dir = self.root / name / "items"
        if not items_dir.exists():
            return None
        versions = sorted(
            items_dir.glob("v*.json"), key=lambda p: int(p.stem[1:]), reverse=True
        )
        return json.loads(versions[0].read_text()) if versions else None

    def item_history(self, name: str) -> list[dict[str, Any]]:
        """Walk the prev-link chain newest → oldest (metadata.py:468-494)."""
        items_dir = self.root / name / "items"
        out = []
        cur = self.latest_item(name)
        while cur is not None:
            out.append(cur)
            prev = next((link for link in cur["links"] if link["rel"] == "prev"), None)
            if prev is None:
                break
            cur = json.loads((items_dir / Path(prev["href"]).name).read_text())
        return out
