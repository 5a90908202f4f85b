"""Layer configuration, mirroring the reference's LayerDef/Config
(/root/reference/include/shared_data.h:18-50, docs/CONFIGURATION.md:29-99).

A profile = a config + per-layer feature rules; the rules are declarative
column expressions (see ``plans.profile``), not per-row callbacks.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class LayerDef:
    name: str
    minzoom: int = 0
    maxzoom: int = 14
    simplify_below: int = 0          # simplify when z < simplify_below
    simplify_level: float = 0.0      # tolerance in degrees at simplify_below-1
    simplify_length: float = 0.0     # tolerance in km (converted at latitude)
    simplify_ratio: float = 2.0      # per-zoom multiplier
    simplify_algorithm: str = "dp"   # dp | visvalingam
    filter_below: int = 0            # area-filter when z < filter_below
    filter_area: float = 0.5         # in squared tile-pixels at filter_below-1
    feature_limit: int = 0           # top-N per tile+layer (0 = unlimited)
    feature_limit_below: int = 0     # apply when z < feature_limit_below
    combine_points: bool = True
    combine_lines_below: int = 0
    combine_polygons_below: int = 0
    z_order_ascending: bool = True
    write_to: str = ""               # merge this layer into another's output
    # typed attribute output (reference Attribute{Numeric,Boolean,Integer},
    # include/attribute_store.h:45-175): key -> Number|Integer|Boolean;
    # unlisted keys stay String
    attr_types: dict = field(default_factory=dict)
    # per-attribute minzoom (reference src/output_object.cpp:42): the
    # attribute is only written into tiles at z >= its minzoom
    attr_minzoom: dict = field(default_factory=dict)


@dataclass
class Config:
    layers: dict[str, LayerDef] = field(default_factory=dict)
    minzoom: int = 0
    maxzoom: int = 14
    basezoom: int = 14
    include_ids: bool = False
    compress: str = "gzip"           # gzip | deflate | none
    repair_geometry: bool = True     # clip-escalation repair chain
    repair_area_guard: float = 0.5   # keep repair only if >=50% area survives
    # global clipping bbox (minlon, minlat, maxlon, maxlat) or None:
    # only tiles intersecting it are emitted (reference --bbox,
    # src/tilemaker.cpp:368-379)
    clip_bbox: tuple | None = None
    high_resolution: bool = False    # 8192 extent at maxzoom
    name: str = "tilemaker_spark"

    @property
    def extent(self) -> int:
        return 8192 if self.high_resolution else 4096

    def layer_order(self) -> list[str]:
        """Output layer names honoring write_to grouping (shared_data.cpp
        layerOrder semantics: a layer with write_to folds into the target)."""
        seen, order = set(), []
        for name, ld in self.layers.items():
            target = ld.write_to or name
            if target not in seen:
                seen.add(target)
                order.append(target)
        return order

    @classmethod
    def from_json(cls, path_or_str: str) -> "Config":
        """Parse the reference's JSON config shape (docs/CONFIGURATION.md)."""
        if path_or_str.lstrip().startswith("{"):
            doc = json.loads(path_or_str)
        else:
            with open(path_or_str) as f:
                doc = json.load(f)
        layers = {}
        for name, spec in doc.get("layers", {}).items():
            known = {k: v for k, v in spec.items()
                     if k in LayerDef.__dataclass_fields__}
            layers[name] = LayerDef(name=name, **known)
        settings = doc.get("settings", {})
        return cls(
            layers=layers,
            minzoom=settings.get("minzoom", 0),
            maxzoom=settings.get("maxzoom", 14),
            basezoom=settings.get("basezoom", settings.get("maxzoom", 14)),
            include_ids=settings.get("include_ids", False),
            compress={"true": "gzip", "false": "none"}.get(
                str(settings.get("compress", "gzip")).lower(),
                str(settings.get("compress", "gzip"))),
            high_resolution=settings.get("high_resolution", False),
            name=settings.get("name", "tilemaker_spark"),
        )
