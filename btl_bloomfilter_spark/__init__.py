from btl_bloomfilter_spark import _worker

# a no-op outside PySpark workers and on CPython >= 3.13 (see _worker)
_worker.install_zip_directory_cache()
