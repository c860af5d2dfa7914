"""Sources: pages tables, synthesized from testdata documents or read from WARC files."""
