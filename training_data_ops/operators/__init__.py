"""Large-scale pipeline operators (dedup/similarity/text/multimodal/...)."""
