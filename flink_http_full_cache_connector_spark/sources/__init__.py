"""Sources: HTTP full-cache lookup table, Python Data Source, and the
datagen, file and Kafka probe sources."""
