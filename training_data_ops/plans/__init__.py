"""Analytics, time-series, warehouse and extra TPC-H query plans."""
