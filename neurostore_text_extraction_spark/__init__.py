"""neurostore_text_extraction_spark — a from-scratch PySpark-native
main-content extraction engine with the capabilities of
neurostuff/neurostore-text-extraction (reference read-only at
/root/reference; behavior re-specified, never ported).

Layers
------
1. Extraction front-end (SURVEY.md §2.9): pure-Python HTML boilerplate
   stripping + readability candidate scoring + minimal PDF layout parse,
   executed as one Arrow-batched ``mapInArrow`` pass — never per-row
   driver Python.
2. Pipeline framework semantics (SURVEY.md §2.1–§2.8): prioritized
   source resolution, per-doc vs corpus-scoped operators, schema-driven
   text post-processing, config hashing, MD5 incremental recompute,
   per-partition lineage, checkpoint manifests with exact resume.
3. Training-data operators: dedup (exact/minhash/simhash/jaccard/
   embedding), ANN similarity, language-ID, quality scoring, token
   counting, fingerprinting, multimodal column plumbing.
"""

__version__ = "0.1.0"


def _guard_zip_rereads() -> None:
    """Re-read a zip archive on ``importlib.invalidate_caches()`` only
    when its ``(st_ino, st_size, st_mtime_ns, st_ctime_ns)`` changed.

    ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` before every Python task, and
    before CPython 3.13 each ``zipimporter`` re-reads its archive's whole
    directory on that call: 16 importers over the 1,328-entry
    ``pyspark.zip``. That was 90% of a Python task's worker CPU (an
    identity ``mapInArrow`` task: 260 ms, 27 ms with the guard, CPython
    3.11 on 4 cores). 3.13 re-reads lazily, so the guard is installed on
    older versions only. A rewritten archive (a re-shipped
    ``--py-files`` zip) is still re-read: a rename-replace changes the
    inode, and an in-place write changes the ctime, which no copy that
    preserves the mtime can set back."""
    import os
    import sys
    import zipimport

    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp and files is not None:
            # another importer over this archive already re-read it
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_rereads()
