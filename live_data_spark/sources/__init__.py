"""File sources & sinks: the staged-TSV format and writer, stage PUT, typed readers."""

from live_data_spark.sources.files import stage_files, write_tsv

__all__ = ["stage_files", "write_tsv"]
