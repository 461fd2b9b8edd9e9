"""Layer-resolved benchmark for data_validation_spark (see README.md)."""
