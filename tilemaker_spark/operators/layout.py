"""Z-order (Morton) layout keys.

At 100 TB the dominant cost of a spatial query is how many parquet files
it has to OPEN: a table laid out in row-arrival order spreads every
city's rows over every file, so a bbox query scans the world.  Morton
(Z-order) clustering — interleave the bits of the tile x/y of each row,
range-repartition on that key, sort within partitions — makes every
output file cover a tight spatial extent, so min/max column statistics
prune almost all of them (the same layout trick Delta/Iceberg expose as
``OPTIMIZE ... ZORDER BY``; reference analogue: tilemaker's z6 tile
grouping, src/tile_data.cpp — locality there buys cache hits, here it
buys file skipping).

Everything is pure Catalyst bit arithmetic (shiftleft/and/or — the
classic magic-number bit spread), with a literal-for-literal SQL twin
for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..sql import tile_exprs as TE

# magic-number bit spreading masks (16 -> 32 bit interleave)
_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread_expr(v: Column) -> Column:
    """Spread the low 16 bits of v so bit i lands at position 2i.
    Long arithmetic throughout: the final odd-bit shift of a full
    16-bit value tops out at 0xAAAAAAAA, past int32."""
    x = v.cast("long").bitwiseAND(F.lit(0xFFFF))
    for sh, mask in _MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, sh))).bitwiseAND(F.lit(mask))
    return x


def _spread_sql(v: str) -> str:
    x = f"(CAST({v} AS BIGINT) & 65535)"
    for sh, mask in _MASKS:
        x = f"(({x} | ({x} << {sh})) & {mask})"
    return x


def morton_key(x: Column, y: Column) -> Column:
    """Interleave two 16-bit ints into one 32-bit Morton code
    (y in odd bits, x in even — zoom <= 16 tile coordinates)."""
    return (F.shiftleft(_spread_expr(y), 1)
            .bitwiseOR(_spread_expr(x)).cast("long"))


def morton_key_sql(x: str, y: str) -> str:
    return f"(({_spread_sql(y)} << 1) | {_spread_sql(x)})"


def zorder_key(lon: Column, lat: Column, zoom: int = 12) -> Column:
    """lon/lat -> Morton code of the z``zoom`` tile (zoom <= 16)."""
    return morton_key(TE.lon2tilex(lon, zoom), TE.lat2tiley(lat, zoom))


def zorder_key_sql(lon: str, lat: str, zoom: int = 12) -> str:
    return morton_key_sql(TE.lon2tilex_sql(lon, zoom),
                          TE.lat2tiley_sql(lat, zoom))
