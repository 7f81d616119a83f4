"""Sources: normalized CSV scans, data dictionaries, harmony ConceptMaps."""

from ncpi_whistler_spark.sources.csv_source import scan_csv
from ncpi_whistler_spark.sources.harmony import ConceptMap
from ncpi_whistler_spark.sources.dd import DataDictionary

__all__ = ["scan_csv", "ConceptMap", "DataDictionary"]
