"""tilemaker_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the query/data-processing capabilities of
systemed/tilemaker (reference at /root/reference, studied for behavior only):
OSM entity tables -> geometry assembly -> per-layer feature transform ->
spatial joins (point-in-polygon, covered-by, kNN) -> z/x/y tile assembly
(clip, simplify, combine, MVT encode) -> mbtiles / pmtiles / file-tree sinks.

Architecture is Spark-first: DataFrame/SQL plans with Catalyst-optimizable
column expressions for all tile math (see ``tilemaker_spark.sql.tile_exprs``),
and Python only for genuinely non-relational kernels (ring stitching,
clipping, MVT encode, image and media codecs), always over whole Arrow
batches (the tile, spatial-join and blob paths through ``mapInArrow`` /
``applyInArrow``); no plan holds a row-at-a-time Python UDF.

Importing the package also keeps an unchanged zip archive's import
index across ``importlib.invalidate_caches()``.  PySpark's worker calls
that before every task, and before CPython 3.13 it makes each
``zipimporter`` re-read its archive's central directory: a worker holds
about 16 over pyspark's and py4j's zips, 0.1-0.3 s of every Python task
on a 4-vCPU host.  Here an importer re-reads only when its archive's
``(st_mtime_ns, st_size)`` differs from the stamp of its last read (or
of the package import, for an importer that existed then) or cannot be
taken; 3.13 and later only drop the index and re-read it when next
needed.  Each importer keeps its own stamp: a root importer and a
package-subpath importer over one archive hold separate indexes.  Every
engine worker imports the package when it unpickles its function, so
the rule reaches local sessions and ``--py-files`` clusters alike.
"""

import sys

if sys.version_info < (3, 13):
    import os
    import zipimport

    _reread_archive = zipimport.zipimporter.invalidate_caches

    def _stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def _invalidate_changed_archive(self):
        # stat before the read, so a rewrite during it shows next time
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            _reread_archive(self)
            self._archive_stamp = stamp

    # an importer that exists now counts as read now: in a worker, the
    # task's own invalidate_caches() re-read it just before unpickling
    # the function whose import brought the package in
    for _importer in list(sys.path_importer_cache.values()):
        if isinstance(_importer, zipimport.zipimporter):
            _importer._archive_stamp = _stamp(_importer.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_changed_archive

__version__ = "0.1.0"
