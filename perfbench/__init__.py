"""Layer-resolved benchmark of the ocr_spark engine; see README.md."""
