from pdf_extraction_spark import zipimport_guard as _zipimport_guard

_zipimport_guard.install()
